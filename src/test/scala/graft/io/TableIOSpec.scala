package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SparkTestBase
import graft.crawl.{CrawlJob, SimCrawler}
import graft.model.{CrawlConfig, RoundMetrics}
import graft.synth.Synth

/** Crash-window pins for the seen-compaction commit protocol: the
  * `_SUCCESS`-gated snapshot IS the commit point, every later step is
  * idempotent garbage collection. Also the known read schemas against what
  * Spark infers from the written files. */
class TableIOSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** A round state holding only seen urls (kind s). */
  private def seenState(urls: String*) =
    urls.toDF("url").withColumn("kind", lit("s"))
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(4)))

  private def urls(io: TableIO, upTo: Int): Set[String] =
    io.readSeen(upTo).select("url").collect().map(_.getString(0)).toSet

  private def exists(p: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p))

  test("watermark gating, stale-slice ignore, orphan sweep, over-compaction error") {
    val dir = tempDir("tableio")
    val io = new TableIO(spark, dir)
    io.writeRound(0, seenState("a", "b"))
    io.writeRound(1, seenState("c"))
    io.writeRound(2, seenState("d"))

    io.compactSeen(1)
    assert(io.compactionWatermark() == 1)
    assert(urls(io, 2) == Set("a", "b", "c", "d"))
    assert(!exists(s"$dir/rounds/round=1/kind=s"))

    // crash window: a per-round slice ≤ watermark resurfaces (GC deletes
    // interrupted) — readers must ignore it, never double-read or fold it
    io.writeRound(0, seenState("bogus"))
    assert(urls(io, 2) == Set("a", "b", "c", "d"))

    // crash window: a partial snapshot without _SUCCESS is not a commit
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/seen_compacted/upto=5"))
    assert(io.compactionWatermark() == 1)

    // the next compaction folds the tail and sweeps BOTH the stale slice
    // and every superseded/partial snapshot dir
    io.compactSeen(2)
    assert(io.compactionWatermark() == 2)
    assert(urls(io, 2) == Set("a", "b", "c", "d"))
    Seq(s"$dir/seen_compacted/upto=1", s"$dir/seen_compacted/upto=5",
        s"$dir/rounds/round=0/kind=s").foreach(p => assert(!exists(p), p))

    // a view older than every snapshot cannot be served — loud failure,
    // never a silently truncated seen set
    assertThrows[IllegalArgumentException](io.readSeen(0))

    // idempotent re-call: nothing newer to fold in
    io.compactSeen(2)
    assert(urls(io, 2) == Set("a", "b", "c", "d"))
  }

  test("append-table compaction: ranges accumulate, history never re-copied, crash windows safe") {
    val dir = tempDir("tableio-append")
    val io = new TableIO(spark, dir)
    def write(r: Int, vals: String*): Unit =
      io.writeRound(r, vals.toDF("url").withColumn("kind", lit("r"))
        .withColumn("bucket", lit(null).cast("long")))
    def view: Set[(Int, String)] = io.readResults()
      .select(col("round"), col("url")).collect()
      .map(x => (x.getInt(0), x.getString(1))).toSet

    write(0, "a", "b"); write(1, "c"); write(2, "d")
    val all = Set(0 -> "a", 0 -> "b", 1 -> "c", 2 -> "d")
    assert(view == all)

    io.compactResults(1)
    assert(io.resultsCompactionWatermark() == 1)
    assert(view == all)
    // tail rounds ≤ watermark are gone; later rounds untouched
    assert(!exists(s"$dir/rounds/round=0/kind=r"))
    assert(exists(s"$dir/rounds/round=2/kind=r"))

    // crash window: a tail dir ≤ watermark resurfaces (interrupted GC) —
    // readers must ignore it, never double-read
    write(0, "bogus")
    assert(view == all)

    // crash window: a range dir without _SUCCESS is not a commit and is
    // swept by the next attempt
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/results_compacted/range=2-9"))
    assert(io.resultsCompactionWatermark() == 1)

    write(3, "e")
    io.compactResults(3)
    assert(io.resultsCompactionWatermark() == 3)
    assert(view == all + (3 -> "e"))
    // the first snapshot range was NOT rewritten (append-only: each sweep
    // touches only the tail), and the partial range dir is gone
    assert(exists(s"$dir/results_compacted/range=0-1"))
    assert(exists(s"$dir/results_compacted/range=2-3"))
    assert(!exists(s"$dir/results_compacted/range=2-9"))

    // idempotent re-call + fresh tail after compaction still reads
    io.compactResults(3)
    write(4, "f")
    assert(view == all + (3 -> "e") + (4 -> "f"))
  }

  test("metrics fold: GC folds the manifests below into one file, readers see every round") {
    val dir = tempDir("tableio-fold")
    val io = new TableIO(spark, dir)
    def m(r: Int) = RoundMetrics(r, r + 10L, r.toLong, 10L, 2L * r, 3L, 100L + r, 1L)
    def commit(r: Int): Unit = io.commitRound(r, RoundManifest.encode(m(r)))
    def metrics: Seq[RoundMetrics] = io.readMetrics().as[RoundMetrics].collect().toSeq
    def names: Set[String] = new java.io.File(s"$dir/manifest").list().toSet
      .filterNot(_.endsWith(".crc"))
    (0 to 2).foreach(commit)
    assert(metrics == (0 to 2).map(m))

    io.gcManifestsBelow(2)
    assert(names == Set("round=2.json", "metrics_below=2.jsonl"))
    assert(io.lastCommittedRound() == 2)
    assert(metrics == (0 to 2).map(m))

    // crash windows: a manifest below the fold (the GC deletes interrupted)
    // and a torn next fold — readers dedupe the one and ignore the other
    commit(1)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/manifest/metrics_below=3.jsonl.tmp"),
      "{\"round\":")
    assert(metrics == (0 to 2).map(m))
    assert(io.lastCommittedRound() == 2)

    // the next GC folds the previous fold plus the manifests below, and
    // leaves one fold and the live manifest
    commit(3)
    io.gcManifestsBelow(3)
    assert(names == Set("round=3.json", "metrics_below=3.jsonl"))
    assert(metrics == (0 to 3).map(m))
    // idempotent re-call
    io.gcManifestsBelow(3)
    assert(metrics == (0 to 3).map(m))
  }

  test("known read schemas equal what Spark infers from the written files") {
    val g = SimCrawler.deepCrawlWeb(2)
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)
    val dir = tempDir("tableio-schema")
    // compaction after round 1 only: round 2 stays a tail next to the
    // compacted seen snapshot and results range
    val job = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf,
      CrawlConfig(hostQuotaPerRound = 1, seenCompactEvery = 2, runId = "schema"), dir)
    assert(job.rounds == 3)
    // the known schema must be the inferred one, field for field
    def pinned(known: StructType, inferred: DataFrame, what: String): Unit =
      assert(StructType(known.fieldNames.toSeq.map(inferred.schema(_))) == known, what)
    import TableIO._
    pinned(ResultsSchema, spark.read.option("basePath", s"$dir/rounds")
      .parquet(s"$dir/rounds/round=2/kind=r"), "results tail")
    pinned(ResultsSchema, spark.read.parquet(s"$dir/results_compacted/range=0-1"),
      "results range")
    pinned(SeenSchema, spark.read.parquet(s"$dir/rounds/round=2/kind=s"), "seen tail")
    pinned(SeenSchema, spark.read.parquet(s"$dir/seen_compacted/upto=1"), "seen snapshot")
    pinned(FrontierSchema, spark.read.parquet(s"$dir/rounds/round=1/kind=f"), "frontier")
    // and the readers report it, on a fresh handle as on resume
    val io = new TableIO(spark, dir)
    assert(io.readResults().schema == ResultsSchema)
    assert(io.readSeen(2).schema == SeenSchema)
    assert(io.readFrontier(1).schema == FrontierSchema)
    assert(io.readResults().count() == job.results.count())
  }
}
