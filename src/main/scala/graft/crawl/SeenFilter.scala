package graft.crawl

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.util.sketch.BloomFilter
import graft.util.SerializableHadoopConf

/** The partitioned URL-seen Bloom filter (north_rule: "filters them through
  * a partitioned Bloom/cuckoo URL-seen filter"; SURVEY.md §2.4 J2 / §4).
  *
  * Design for 10^10 urls: the seen table is hash-bucketed by
  * `pmod(xxhash64(url), B)`. Per bucket, a Bloom filter over `xxhash64(url)`
  * is built DISTRIBUTED (map-side partial aggregation via Catalyst's
  * BloomFilterAggregate) and — on the persistent-loop scale path — written
  * straight from the aggregating task to one file per bucket under the
  * round's state dir ([[writeMergedBlooms]], through the file-backed filter
  * store [[FilterInventory]]). The DRIVER never holds filter bytes: at
  * ~0.9 bytes/url (3% fpp) the 10^10-URL seen set needs ~9 GB of filter,
  * past any driver heap or broadcast limit, so both the old
  * collect-to-a-map build and the whole-map broadcast are scale-killers
  * (r4 verdict). What ships to executors instead is the store's
  * [[FilterInventory.FileProbe]] handle — a path and a bucket count, a few
  * hundred bytes — and each task lazily loads only the bucket files it
  * actually probes.
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
  *
  * The in-memory [[SeenBlooms]] map variant remains for the EMBEDDED loop
  * ([[CrawlJob.runInMemory]] — driver smoke query, tests, bench), whose
  * state is bounded by contract; the persistent loop at the 10^10 design
  * point always goes through the file-backed store.
  */
object SeenFilter {

  /** Probe view over the per-bucket filters. Implementations must be
    * broadcast-safe; `mightContain` must have NO false negatives w.r.t.
    * the url set the filters were built over. Implemented by the in-memory
    * [[SeenBlooms]] and by the store's file-backed
    * [[FilterInventory.FileProbe]] (Bloom or cuckoo files). */
  trait BloomProbe extends Serializable {
    def buckets: Int
    def mightContain(bucket: Int, hash: Long): Boolean
    /** File-backed probes want candidates co-partitioned by bucket first so
      * one task touches few buckets (bounds per-task filter memory). */
    def wantsBucketPartitioning: Boolean = false
  }

  /** Broadcast-map payload (EMBEDDED loop only): serialized per-bucket
    * filters + a lazily deserialized probe view (one decode per executor,
    * not per row). */
  final class SeenBlooms(val buckets: Int, val bytes: Map[Int, Array[Byte]])
      extends BloomProbe {
    @transient lazy val decoded: Map[Int, BloomFilter] = bytes.map { case (b, arr) =>
      b -> BloomFilter.readFrom(new java.io.ByteArrayInputStream(arr))
    }
    def mightContain(bucket: Int, hash: Long): Boolean =
      decoded.get(bucket).exists(_.mightContainLong(hash))
  }

  def bucketOf(url: Column, buckets: Int): Column =
    pmod(xxhash64(url), lit(buckets.toLong))

  /** Per-bucket bloom aggregation plan over a (url) DataFrame — the shared
    * build kernel (map-side partial sketches, one shuffle on bucket). */
  private def bloomAggPlan(urls: DataFrame, buckets: Int, expectedPerBucket: Long): DataFrame =
    urls.select(bucketOf(col("url"), buckets).as("bucket"), xxhash64(col("url")).as("h"))
      .groupBy(col("bucket"))
      .agg(ColumnShim.bloomAgg(col("h"), expectedPerBucket).as("bloom"))

  /** Distributed per-bucket bloom build COLLECTED TO THE DRIVER — embedded
    * loop only (bounded fixtures); the persistent loop must use
    * [[writeMergedBlooms]], which never materializes filter bytes on the
    * driver. */
  def buildBlooms(urls: DataFrame, buckets: Int, expectedPerBucket: Long): Map[Int, Array[Byte]] =
    bloomAggPlan(urls, buckets, expectedPerBucket)
      .collect()
      .map(r => r.getLong(0).toInt -> r.getAs[Array[Byte]]("bloom"))
      .toMap

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
    val conf = new SerializableHadoopConf(urls.sparkSession.sparkContext.hadoopConfiguration)
    val prev = FilterInventory.previous(prevDir, conf.value)
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

  /** Union-merge two per-bucket filter maps (bloom union = bitwise or) —
    * embedded-loop companion of [[buildBlooms]]. */
  def merge(a: Map[Int, Array[Byte]], b: Map[Int, Array[Byte]]): Map[Int, Array[Byte]] = {
    val out = scala.collection.mutable.Map[Int, Array[Byte]](a.toSeq: _*)
    b.foreach { case (bucket, arr) =>
      out.get(bucket) match {
        case None => out(bucket) = arr
        case Some(prev) =>
          val f = BloomFilter.readFrom(new java.io.ByteArrayInputStream(prev))
          f.mergeInPlace(BloomFilter.readFrom(new java.io.ByteArrayInputStream(arr)))
          val bos = new java.io.ByteArrayOutputStream()
          f.writeTo(bos)
          out(bucket) = bos.toByteArray
      }
    }
    out.toMap
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

  def broadcastBlooms(spark: SparkSession, buckets: Int,
      bytes: Map[Int, Array[Byte]]): Broadcast[BloomProbe] =
    spark.sparkContext.broadcast(new SeenBlooms(buckets, bytes): BloomProbe)

  /** Broadcast a file-backed probe over a blooms dir: constant-size on the
    * wire no matter how large the seen set — the scale-path replacement for
    * [[broadcastBlooms]]. */
  def broadcastFileBlooms(spark: SparkSession, buckets: Int, dir: String,
      maxCached: Int = 64): Broadcast[BloomProbe] =
    FilterInventory.broadcastProbe(spark, buckets, dir, FilterCodec.Bloom, maxCached)

  /** Bloom-accelerated exact anti-join: rows of `candidates` whose url is
    * NOT in `seen`. `seen` must be exactly the url set the blooms were built
    * over (no false negatives ⇒ exactness). File-backed probes first
    * co-partition candidates by bucket, so each task lazily loads only its
    * own few bucket filters. */
  def bloomAntiJoin(candidates: DataFrame, seen: DataFrame,
      blooms: Broadcast[BloomProbe]): DataFrame = {
    val probeDet = udf((bucket: Long, h: Long) => blooms.value.mightContain(bucket.toInt, h))
    // File-backed probes MUST evaluate above the bucket exchange: a
    // deterministic filter gets pushed below the repartition onto the raw
    // scan partitions, where every task probes arbitrary buckets (unbounded
    // filter-file churn through the per-executor cache — exactly what the
    // co-partitioning exists to prevent). The probe IS pure; nondeterminism
    // here is the standard optimizer fence. Bonus: both union branches then
    // share one identical scan+Exchange subtree, which ReuseExchange dedups
    // — without the fence each branch rescans the input. The in-memory
    // probe keeps determinism so the cheap map-probe CAN push into the scan.
    val probe = if (blooms.value.wantsBucketPartitioning)
      probeDet.asNondeterministic() else probeDet
    val cand =
      if (blooms.value.wantsBucketPartitioning)
        candidates.repartition(bucketOf(col("url"), blooms.value.buckets))
      else candidates
    val marked = cand.withColumn("__maybe_seen",
      probe(bucketOf(col("url"), blooms.value.buckets), xxhash64(col("url"))))
    val definitelyNew = marked.filter(!col("__maybe_seen")).drop("__maybe_seen")
    val maybeSeen = marked.filter(col("__maybe_seen")).drop("__maybe_seen")
      .join(seen.select(col("url")), Seq("url"), "left_anti")
    definitelyNew.unionByName(maybeSeen)
  }
}
