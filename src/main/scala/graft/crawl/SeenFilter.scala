package graft.crawl

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.util.sketch.BloomFilter

/** The partitioned URL-seen Bloom filter (north_rule: "filters them through
  * a partitioned Bloom/cuckoo URL-seen filter"; SURVEY.md §2.4 J2 / §4).
  *
  * Design for 10^10 urls: the seen table is hash-bucketed by
  * `pmod(xxhash64(url), B)`. Per bucket, a Bloom filter over `xxhash64(url)`
  * is built DISTRIBUTED (map-side partial aggregation via Catalyst's
  * BloomFilterAggregate) and written straight from the aggregating task to
  * one file per bucket under the round's state dir ([[writeMergedBlooms]],
  * through the file-backed filter store [[FilterInventory]]). The DRIVER
  * never holds filter bytes: at ~0.9 bytes/url (3% fpp) the 10^10-URL seen
  * set needs ~9 GB of filter, past any driver heap or broadcast limit, so
  * collecting the filters to the driver or broadcasting them whole would
  * be a scale-killer (r4 verdict). What ships to executors instead is the
  * store's [[FilterInventory.FileProbe]] handle — a path and a bucket
  * count, a few hundred bytes — and each task lazily loads only the bucket
  * files it actually probes.
  *
  * Each round the anti-join against seen becomes:
  *
  *   1. probe: candidates whose (bucket, hash) the bloom rejects are
  *      DEFINITELY new — they skip the join entirely (the overwhelming
  *      majority on a growing crawl);
  *   2. exact: the few bloom-positives (true dups + fpp false positives)
  *      take the exact left-anti join against the seen table.
  *
  * No false negatives ⇒ result sets are bit-identical to the plain
  * anti-join (pinned by SeenFilterSpec). The probe takes the Spark-computed
  * `xxhash64` as an argument, so build and probe hash identically.
  */
object SeenFilter {

  /** Bloom sizing: expected urls per bucket (3% fpp at this load), the
    * base capacity [[sizedFor]] doubles. At 10^10 urls raise
    * `CrawlConfig.seenBuckets` so this stays ≤ ~4M per bucket. */
  val BloomExpectedPerBucket = 4096L

  def bucketOf(url: Column, buckets: Int): Column =
    pmod(xxhash64(url), lit(buckets.toLong))

  /** Per-bucket bloom aggregation plan over a (url) DataFrame — the shared
    * build kernel (map-side partial sketches, one shuffle on bucket). */
  private def bloomAggPlan(urls: DataFrame, buckets: Int, expectedPerBucket: Long): DataFrame =
    urls.select(bucketOf(col("url"), buckets).as("bucket"), xxhash64(col("url")).as("h"))
      .groupBy(col("bucket"))
      .agg(ColumnShim.bloomAgg(col("h"), expectedPerBucket).as("bloom"))

  /** Build per-bucket filters over `urls` and write each bucket's serialized
    * filter straight FROM THE AGGREGATING TASK to `outDir/bucket=B.bloom`,
    * bloom-union-merged with the same bucket's previous filter (resolved
    * through `prevDir`'s inventory — the file may live in an earlier round's
    * dir) when present; widths must match — the caller keeps capacity a
    * deterministic function of cumulative load, see [[sizedFor]]. Buckets
    * with no new urls are NOT copied: the new inventory references their
    * existing files where they are. A bucket whose previous file is lost, or
    * that is already dead, is written `.dead` (probe-true) until the next
    * full build (`prevDir` = None). The per-bucket open/write and the
    * inventory are the store's ([[FilterInventory.writeBuckets]]); the
    * driver handles bucket IDs and path strings only — never filter bytes.
    * Returns the touched-bucket count (diagnostic). */
  def writeMergedBlooms(urls: DataFrame, buckets: Int, expectedPerBucket: Long,
      prevDir: Option[String], outDir: String): Int = {
    val conf = FilterInventory.writerConf(urls.sparkSession)
    val prev = FilterInventory.begin(prevDir, outDir, conf.value)
    val touched = bloomAggPlan(urls, buckets, expectedPerBucket)
      .rdd.mapPartitions { rows =>
        FilterInventory.writeBuckets(FilterCodec.Bloom, prev, outDir, conf, rows) { (last, r) =>
          val slice = BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
          last.foreach(slice.mergeInPlace)
          Some(slice)
        }
      }.collect()
    FilterInventory.commit(outDir, conf.value, FilterCodec.Bloom, prev, touched)
  }

  /** Per-bucket capacity the filters must be sized for at cumulative load
    * `perBucketLoad`: the base capacity doubled until it covers the load.
    * Keeping capacity a deterministic function of the load lets resume
    * re-derive the bit width of checkpointed filters (merge requires equal
    * widths) without a manifest field, and keeps the false-positive rate
    * bounded as the seen set grows — a fixed-width filter saturates
    * (fpp → 1) and silently degrades the anti-join to the exact path. */
  def sizedFor(base: Long, perBucketLoad: Long): Long = {
    var cap = math.max(base, 1L)
    while (perBucketLoad > cap) cap *= 2
    cap
  }

  /** Broadcast a file-backed probe over a blooms dir: constant-size on the
    * wire no matter how large the seen set. */
  def broadcastFileBlooms(spark: SparkSession, buckets: Int, dir: String,
      maxCached: Int = 64): Broadcast[FilterInventory.FileProbe[_]] =
    FilterInventory.broadcastProbe(spark, buckets, dir, FilterCodec.Bloom, maxCached)

  /** Filter-accelerated exact anti-join: rows of `candidates` whose url is
    * NOT in `seen`. `seen` must be exactly the url set the filters were
    * built over (no false negatives ⇒ exactness). Candidates are first
    * co-partitioned by bucket, so each task lazily loads only its own few
    * bucket filters. */
  def bloomAntiJoin(candidates: DataFrame, seen: DataFrame,
      blooms: Broadcast[FilterInventory.FileProbe[_]]): DataFrame = {
    // The probe MUST evaluate above the bucket exchange: a deterministic
    // filter gets pushed below the repartition onto the raw scan
    // partitions, where every task probes arbitrary buckets (unbounded
    // filter-file churn through the per-executor cache — exactly what the
    // co-partitioning exists to prevent). The probe IS pure;
    // nondeterminism here is the standard optimizer fence. Bonus: both
    // union branches then share one identical scan+Exchange subtree, which
    // ReuseExchange dedups — without the fence each branch rescans the
    // input.
    val probe = udf((bucket: Long, h: Long) => blooms.value.mightContain(bucket.toInt, h))
      .asNondeterministic()
    val marked = candidates.repartition(bucketOf(col("url"), blooms.value.buckets))
      .withColumn("__maybe_seen",
        probe(bucketOf(col("url"), blooms.value.buckets), xxhash64(col("url"))))
    val definitelyNew = marked.filter(!col("__maybe_seen")).drop("__maybe_seen")
    val maybeSeen = marked.filter(col("__maybe_seen")).drop("__maybe_seen")
      .join(seen.select(col("url")), Seq("url"), "left_anti")
    definitelyNew.unionByName(maybeSeen)
  }
}
