package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.crawl.CrawlJob
import graft.model.CrawlConfig
import graft.synth.Synth

/** Shows the correctness gates are not vacuous: each passes on real crawl
  * output at toy size and fails on a copy corrupted the way its invariant
  * would break (a duplicated url row, a flipped text byte, a deferred row
  * fetched a round early, a missing or reordered row).
  *
  *   graftbench.GateSelfTest <workDir>
  *
  * Prints one line per check and exits non-zero if any check misbehaves. */
object GateSelfTest {
  def main(argv: Array[String]): Unit = {
    val work = argv(0)
    val spark = SparkSession.builder().appName("crawlbench-gates").master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var bad = 0
    def expect(what: String, g: Gate, ok: Boolean): Unit = {
      val fine = g.ok == ok
      if (!fine) bad += 1
      println(s"${if (fine) "ok  " else "FAIL"} $what: ${g.name} ${if (g.ok) "passes" else s"fires (${g.detail})"}")
    }
    def flipByte(s: String): String = {
      val b = s.getBytes("UTF-8"); b(0) = (b(0) ^ 1).toByte; new String(b, "UTF-8")
    }

    // persistent loop, deep_crawl's toy web, cut and resumed
    val size = DeepCrawl.Size(2, 2, 1)
    val g = DeepCrawl.graph(7L, size)
    Synth.write(spark, g, s"$work/input")
    val (pages, robots, redirects) = Main.readParquetInput(spark, s"$work/input")
    val cfg = CrawlConfig(useCuckooFrontier = true, seenCompactEvery = 1, runId = "gates",
      hostQuotaPerRound = DeepCrawl.Quota)
    CrawlJob.run(spark, g.seeds, pages, robots, redirects, cfg.copy(maxRounds = 1), s"$work/state")
    val res = CrawlJob.run(spark, g.seeds, pages, robots, redirects, cfg, s"$work/state", resume = true)
    val rows = res.results.select(col("round"), col("depth"), hex(col("priority")), col("url"),
      col("host"), col("crawl_status"), col("final_url"), col("text")).collect().toSeq.map { x =>
      CrawlRow(x.getInt(0), x.getInt(1), x.getString(2), x.getString(3), x.getString(4),
        x.getString(5), x.getString(6), x.getString(7))
    }
    val hosts = g.seeds.map(u => u.stripPrefix("https://").takeWhile(_ != '/')).distinct
    val want = DeepCrawl.expected(hosts, size)
    val text = g.pages.map(p => p.url -> p.text).toMap
    val dup = rows :+ rows.head
    val flipped = rows.updated(0, rows.head.copy(text = flipByte(rows.head.text)))
    // a deferred row fetched a round early: its host's round-0 row is
    // already at the quota
    val early = rows.indexWhere(r => r.round == 1)
    val crowd = rows.updated(early, rows(early).copy(round = 0))

    expect("deep: real output", Gates.uniqueUrls(rows), ok = true)
    expect("deep: real output", Gates.hostQuota(rows, DeepCrawl.Quota), ok = true)
    expect("deep: real output", Gates.textIdentity(rows, text), ok = true)
    expect("deep: real output", Gates.chainOracle(rows, want), ok = true)
    expect("deep: duplicated url row", Gates.uniqueUrls(dup), ok = false)
    expect("deep: flipped text byte", Gates.textIdentity(flipped, text), ok = false)
    expect("deep: deferred row fetched early", Gates.hostQuota(crowd, DeepCrawl.Quota), ok = false)
    expect("deep: missing row", Gates.chainOracle(rows.tail, want), ok = false)
    expect("deep: hop in the wrong round", Gates.chainOracle(
      rows.updated(0, rows.head.copy(round = rows.head.round + 1)), want), ok = false)
    val moved = Gates.digest(rows.updated(0, rows.head.copy(round = rows.head.round + 1)))
    expect("deep: digest of a row moved to another round",
      Gate("digest", moved == Gates.digest(rows), s"$moved differs"), ok = false)

    spark.stop()
    if (bad > 0) { println(s"$bad gate checks misbehaved"); sys.exit(1) }
  }
}
