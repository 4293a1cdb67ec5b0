package graft.crawl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.SparkTestBase
import graft.model.CrawlConfig

/** Pins for the politeness scheduler's mega-host split (A1/A3).
  *
  * The salted two-phase path must yield the SAME exact per-host top-k as a
  * plain per-host `row_number` window, whichever hosts the (host) mega
  * DataFrame names: a hand-picked set, the set `CrawlJob.run` builds with
  * [[FrontierRound.findMegaHostsDf]], or a set with duplicate hosts.
  * Mega-ness is a pure performance heuristic, so every split must agree
  * with the plain-window oracle row-for-row, including the `host_slot`
  * calendar positions. */
class SchedulerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfg = CrawlConfig(hostQuotaPerRound = 3, saltBuckets = 4,
    megaHostThreshold = 10L)

  // skewed frontier: mega.test carries 60 urls, three normal hosts 5 each
  private def frontier = (
    (0 until 60).map(i => ("mega.test", i)) ++
      (0 until 5).flatMap(i => Seq(("a.test", i), ("b.test", i), ("c.test", i)))
    ).toDF("host", "id")
    .select(
      concat(lit("https://"), col("host"), lit("/p/"), col("id")).as("url"),
      col("host"),
      (col("id") % 3).as("depth"),
      FrontierRound.prioChildUdf(lit(Array.emptyByteArray), col("id").cast("int"))
        .as("priority"))

  private def key(df: org.apache.spark.sql.DataFrame): Set[(String, Boolean, Option[Int])] =
    df.select(col("url"), col("is_scheduled"), col("host_slot").cast("int"))
      .collect()
      .map(r => (r.getString(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2))))
      .toSet

  private def oracle(f: org.apache.spark.sql.DataFrame) =
    f.withColumn("__rn", row_number().over(
        Window.partitionBy(col("host"))
          .orderBy(col("depth"), col("priority"), col("url"))))
      .withColumn("is_scheduled", col("__rn") <= cfg.hostQuotaPerRound)
      .withColumn("host_slot",
        when(col("__rn") <= cfg.hostQuotaPerRound, col("__rn")))
      .drop("__rn")

  test("salted split == plain-window oracle (rows, flags, slots)") {
    val f = frontier
    val want = oracle(f)
    val viaDf = FrontierRound.scheduleFlagged(f, cfg,
      megaHostsDf = Seq("mega.test").toDF("host"))
    val found = FrontierRound.scheduleFlagged(f, cfg,
      megaHostsDf = FrontierRound.findMegaHostsDf(f, cfg.megaHostThreshold))
    assert(key(want) == key(viaDf))
    assert(key(want) == key(found))
    // schema parity with the oracle (column names AND order)
    assert(viaDf.columns.toSeq == want.columns.toSeq)
  }

  test("duplicate hosts in the mega DataFrame never duplicate frontier rows") {
    val f = frontier
    val dupMega = Seq("mega.test", "mega.test", "mega.test").toDF("host")
    val out = FrontierRound.scheduleFlagged(f, cfg, megaHostsDf = dupMega)
    assert(out.count() == f.count())
    assert(key(out) == key(oracle(f)))
  }

  test("findMegaHostsDf finds exactly the over-threshold hosts") {
    val hosts = FrontierRound.findMegaHostsDf(frontier, 10L)
      .collect().map(_.getString(0)).toSet
    assert(hosts == Set("mega.test"))
    assert(FrontierRound.findMegaHostsDf(frontier, 1000L).count() == 0L)
  }
}
