package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.model.Page
import graft.synth.Synth

class CrawlStreamSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def pagesFixture: Seq[Page] =
    Synth.graph(42L, hosts = 2, pagesPerHost = 6).pages

  test("streaming link extraction + stateful URL-seen dedup emits each url once") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Page]
    val links = CrawlStream.extractedLinks(input.toDF())
    val deduped = CrawlStream.dedupedLinks(spark, links)
    val q = deduped.writeStream
      .format("memory").queryName("deduped_links")
      .outputMode("append")
      .option("checkpointLocation",
        tempDir("cs-ckpt"))
      .start()
    try {
      val ps = pagesFixture
      input.addData(ps.take(4): _*)
      q.processAllAvailable()
      val first = spark.table("deduped_links").select("url").as[String].collect().toSet
      assert(first.nonEmpty)
      // re-send the SAME pages: every link is a duplicate → nothing new
      input.addData(ps.take(4): _*)
      q.processAllAvailable()
      val second = spark.table("deduped_links").select("url").as[String].collect()
      assert(second.length == second.distinct.length)
      assert(second.toSet == first)
      // a new page may add new urls, never duplicates
      input.addData(ps.drop(4).take(4): _*)
      q.processAllAvailable()
      val third = spark.table("deduped_links").select("url").as[String].collect()
      assert(third.length == third.distinct.length)
      assert(first.subsetOf(third.toSet))
    } finally q.stop()
  }

  test("host fetch-rate windows count per (second, host)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Page]
    val q = CrawlStream.hostRates(input.toDF()).writeStream
      .format("memory").queryName("host_rates")
      .outputMode("append")
      .option("checkpointLocation",
        tempDir("cs-ckpt2"))
      .start()
    try {
      input.addData(pagesFixture: _*)
      q.processAllAvailable()
      // append-mode windows only emit once the watermark passes; push it
      // with a far-future row
      input.addData(Page("https://late.test/", new java.sql.Timestamp(1700000000000L),
        null, "", "en"))
      q.processAllAvailable()
      val rows = spark.table("host_rates")
        .select("host", "fetches").as[(String, Long)].collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_._2 >= 1))
      assert(rows.map(_._1).toSet.contains("host0.test"))
    } finally q.stop()
  }

  test("politeness scheduler: >= delay spacing per host, continues across batches, re-anchors after idle") {
    implicit val sqlCtx = spark.sqlContext
    import CrawlStream.FetchRequest
    val input = MemoryStream[FetchRequest]
    val t0 = 1700000000000L
    val delay = 500L
    val q = CrawlStream.politenessSchedule(spark, input.toDS(), delay)
      .writeStream.format("memory").queryName("fetch_calendar")
      .outputMode("append")
      .option("checkpointLocation",
        tempDir("cs-ckpt4"))
      .start()
    try {
      input.addData(
        FetchRequest("https://a.test/1", "a.test", t0),
        FetchRequest("https://a.test/2", "a.test", t0),
        FetchRequest("https://b.test/1", "b.test", t0))
      q.processAllAvailable()
      // second batch arrives shortly after: a.test's slots must CONTINUE
      input.addData(FetchRequest("https://a.test/3", "a.test", t0 + 100))
      q.processAllAvailable()
      // third batch after a LONG idle gap: the calendar must re-anchor to
      // the link's event time, not hand out an hour of elapsed slots
      val idle = t0 + 3600 * 1000L
      input.addData(
        FetchRequest("https://a.test/4", "a.test", idle),
        FetchRequest("https://a.test/5", "a.test", idle))
      q.processAllAvailable()
      // gap is STRICTLY greater than delay (+1 ms): the reference blocks
      // while elapsed <= rate_limiting_ms (http_client.rs is_blocked), so
      // firing exactly at prev+delay would be 1ms more aggressive than it
      val gap = delay + 1
      val byHost = spark.table("fetch_calendar")
        .select("host", "not_before_ms").as[(String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(byHost("a.test") ==
        Seq(t0, t0 + gap, t0 + 2 * gap, idle, idle + gap))
      assert(byHost("b.test") == Seq(t0))
      // invariant: every host's consecutive slots are > delay apart
      byHost.values.foreach(slots =>
        slots.sliding(2).foreach {
          case Seq(a, b) => assert(b - a > delay)
          case _ =>
        })
      // replay determinism: within a batch, slots are assigned in
      // (event_ms, url) order, not arrival order — /1 and /2 share event_ms,
      // so /1 (lexicographically first) must hold the earlier slot
      val urlSlots = spark.table("fetch_calendar")
        .select("url", "not_before_ms").as[(String, Long)].collect().toMap
      assert(urlSlots("https://a.test/1") == t0)
      assert(urlSlots("https://a.test/2") == t0 + gap)
      assert(urlSlots("https://a.test/4") == idle)
      assert(urlSlots("https://a.test/5") == idle + gap)
    } finally q.stop()
  }

  test("streaming content-dedup passes first occurrence per md5, bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val q = CrawlStream.dedupedDocs(docs, "10 minutes").writeStream
      .format("memory").queryName("deduped_docs")
      .outputMode("append")
      .option("checkpointLocation",
        tempDir("cs-ckpt3"))
      .start()
    try {
      val t0 = 1700000000000L
      def ts(deltaSec: Long) = new java.sql.Timestamp(t0 + deltaSec * 1000)
      input.addData((0L, "alpha text", ts(0)), (1L, "beta text", ts(1)),
        (2L, "alpha text", ts(2))) // same content as doc 0 → dropped
      q.processAllAvailable()
      input.addData((3L, "alpha text", ts(3)), (4L, "gamma text", ts(4)))
      q.processAllAvailable()
      val ids = spark.table("deduped_docs").select("doc_id").as[Long].collect().toSet
      assert(ids.contains(0L) && ids.contains(1L) && ids.contains(4L))
      assert(!ids.contains(2L) && !ids.contains(3L), s"duplicates must drop: $ids")
    } finally q.stop()
  }

  test("politeness scheduler fails fast past maxHostSlice instead of buffering a mega host") {
    implicit val sqlCtx = spark.sqlContext
    import CrawlStream.FetchRequest
    val input = MemoryStream[FetchRequest]
    val t0 = 1700000000000L
    val q = CrawlStream.politenessSchedule(spark, input.toDS(), 500L, maxHostSlice = 3)
      .writeStream.format("memory").queryName("fetch_calendar_capped")
      .outputMode("append")
      .option("checkpointLocation",
        tempDir("cs-ckpt5"))
      .start()
    try {
      input.addData((1 to 4).map(i => FetchRequest(s"https://m.test/$i", "m.test", t0)): _*)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      // the actionable message (host + the trigger config to fix) must
      // survive Spark's exception wrapping
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("m.test") && c.getMessage.contains("maxFilesPerTrigger")),
        s"expected the slice-bound message in the cause chain, got: ${causes(e).map(_.getMessage)}")
    } finally q.stop()
  }
}
