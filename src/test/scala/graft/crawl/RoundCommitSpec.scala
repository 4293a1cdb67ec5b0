package graft.crawl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.io.{RoundManifest, TableIO}
import graft.model._
import graft.synth.Synth

/** The persistent loop's one-action commit: every round's manifest — the
  * metrics table's only store — comes from the action that materializes
  * the round, so every manifest field is pinned here against the tables
  * the round committed. Also the manifest decoder and the static-input
  * leaf gate. */
class RoundCommitSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  private lazy val spark = SparkTestBase.spark

  /** Run a persistent crawl one round per call (each call resumes the
    * previous one), checking each round right after its commit — with
    * compaction every round only the latest frontier snapshot survives.
    * `beforeResume` may rewrite the committed state between calls. */
  private def crawlCheckingEveryRound(g: Synth.Graph, cfg: CrawlConfig, tag: String,
      beforeResume: (TableIO, Int) => Unit = (_, _) => ()): Int = {
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)
    val dir = tempDir(s"commit-$tag")
    val io = new TableIO(spark, dir)
    var round = 0
    var more = true
    while (more) {
      if (round > 0) beforeResume(io, round - 1)
      val job = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf,
        cfg.copy(maxRounds = round + 1), dir, resume = round > 0)
      more = job.rounds == round + 1
      if (more) {
        assert(io.lastCommittedRound() == round)
        val m = io.readMetrics().filter(col("round") === round).collect()
        assert(m.length == 1, s"$tag round $round: one metrics row")
        val row = m.head
        def metric(name: String) = row.getAs[Long](name)
        val res = io.readResults().filter(col("round") === round)
        val agg = res.agg(count(lit(1)), sum(when(col("crawl_status") === CrawlStatus.Fetched, 1L)
          .otherwise(0L)), sum(when(col("n_links") >= 0, col("n_links").cast("long"))
          .otherwise(0L)), countDistinct(col("host"))).collect().head
        val want = Map(
          "scheduled" -> agg.getLong(0),
          "fetched" -> Option(agg.get(1)).fold(0L)(_.asInstanceOf[Long]),
          "newLinks" -> Option(agg.get(2)).fold(0L)(_.asInstanceOf[Long]),
          "distinctHosts" -> agg.getLong(3),
          "newFrontier" -> io.readFrontier(round).count(),
          "seenTotal" -> io.readSeen(round).count())
        want.foreach { case (k, v) => assert(metric(k) == v, s"$tag round $round: $k") }
        assert(metric("statusRows") == want("scheduled") - want("fetched"))
        // the manifest carries every metric, and the metrics table is read
        // from it
        val manifest = RoundManifest.fields(io.readManifest(round).get)
        assert(manifest == Map("round" -> round.toLong, "scheduled" -> want("scheduled"),
          "fetched" -> want("fetched"), "status_rows" -> (want("scheduled") - want("fetched")),
          "new_links" -> want("newLinks"), "frontier" -> want("newFrontier"),
          "seen_total" -> want("seenTotal"), "distinct_hosts" -> want("distinctHosts")),
          s"$tag round $round: manifest")
        // every earlier round keeps its one metrics row, folded or not
        assert(io.readMetrics().select("round").collect().map(_.getInt(0)).toSeq ==
          (0 to round), s"$tag round $round: metrics rounds")
        round += 1
      }
    }
    round
  }

  test("metrics and manifest equal the committed tables, every round (deep-crawl shape)") {
    // every resume reads a manifest whose fields are reordered, spaced and
    // padded with an extra nested `seen_total` ahead of the real one: only
    // a field-name decoder resumes to the right cumulative count
    val rewrite = (io: TableIO, last: Int) => {
      val f = RoundManifest.fields(io.readManifest(last).get)
      io.commitRound(last,
        s"""{ "note": {"seen_total":999999}, "seen_total" : ${f("seen_total")},
           |  "distinct_hosts": ${f("distinct_hosts")}, "new_links" :${f("new_links")},
           |  "frontier": ${f("frontier")}, "extra": [1, 2], "fetched": ${f("fetched")},
           |  "status_rows": ${f("status_rows")}, "scheduled": ${f("scheduled")},
           |  "round": $last }""".stripMargin)
    }
    val rounds = crawlCheckingEveryRound(SimCrawler.deepCrawlWeb(3),
      CrawlConfig(maxDepth = 8, hostQuotaPerRound = 1, useCuckooFrontier = true,
        seenCompactEvery = 1, runId = "commit-deep"), "deep", rewrite)
    assert(rounds == 3)
  }

  test("metrics and manifest equal the committed tables, every round (blooms off)") {
    val rounds = crawlCheckingEveryRound(Synth.graph(42L, hosts = 2, pagesPerHost = 8),
      CrawlConfig(maxDepth = 3, hostQuotaPerRound = 3, useBloomSeen = false,
        runId = "commit-nobloom"), "nobloom")
    assert(rounds >= 3)
  }

  test("manifest decoder keys on field names, not order or spacing") {
    val m = RoundMetrics(4, 12L, 9L, 3L, 40L, 17L, 123L, 5L)
    val json = RoundManifest.encode(m)
    assert(json == """{"round":4,"scheduled":12,"fetched":9,"status_rows":3,"new_links":40,""" +
      """"frontier":17,"seen_total":123,"distinct_hosts":5}""")
    assert(RoundManifest.seenTotal(json).contains(123L))
    assert(RoundManifest.metrics(json).contains(m))
    assert(RoundManifest.metrics(
      """{"distinct_hosts":5, "seen_total" : 123, "x": {"round": 9}, "frontier":17,
        |"new_links":40,"status_rows":3,"fetched":9,"scheduled":12,"round":4}""".stripMargin)
      .contains(m))
    assert(RoundManifest.metrics("""{"round":4,"seen_total":123}""").isEmpty)
    assert(RoundManifest.seenTotal(
      """{"x": {"seen_total": 7}, "frontier":1, "seen_total" : 123, "y": "z"}""").contains(123L))
    assert(RoundManifest.seenTotal("""{"round":4}""").isEmpty)
    assert(RoundManifest.seenTotal("not json").isEmpty)
  }

  test("static leaves: an embedded fixture is coalesced, a table keeps its partitions") {
    import spark.implicits._
    val g = Synth.graph(42L, hosts = 2, pagesPerHost = 8)
    val local = g.pages.toDF()
    assert(CrawlJob.staticLeaf(local).rdd.getNumPartitions == 1)
    val dir = tempDir("static-leaf")
    local.repartition(3).write.mode("overwrite").parquet(dir)
    val table = spark.read.parquet(dir)
    val parts = table.rdd.getNumPartitions
    assert(parts > 1)
    val leaf = CrawlJob.staticLeaf(table)
    assert(leaf.rdd.getNumPartitions == parts)
    assert(leaf.count() == g.pages.size)
  }
}
