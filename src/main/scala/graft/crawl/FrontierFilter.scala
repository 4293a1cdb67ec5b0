package graft.crawl

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.SerializableHadoopConf

/** The partitioned frontier-membership cuckoo filter (north_rule:
  * "a partitioned Bloom/cuckoo URL-seen filter" — the cuckoo half).
  *
  * Accelerates the enqueue-time gate "is this extracted link already queued?"
  * (SURVEY §2.4 F3/J1): kids the filter rejects are DEFINITELY not in the
  * still-queued frontier and skip the exact anti-join against it — the
  * overwhelming majority once the crawl widens. Same two-lane mechanism as
  * the seen-Bloom ([[SeenFilter.bloomAntiJoin]], reused verbatim), and the
  * same file-backed filter store ([[FilterInventory]]): the same probe
  * class [[FilterInventory.FileProbe]] over the cuckoo codec, the same
  * per-bucket writer step, inventory and GC. The broadcast is a
  * directory path + bucket count, constant-size at any frontier scale;
  * executors lazily load only the bucket files their tasks probe.
  *
  * Why cuckoo and not a second Bloom: the frontier is NOT monotone — every
  * scheduled url LEAVES it. A Bloom can only grow, so mirroring the frontier
  * would mean a full O(|frontier|) rebuild every round (a 10^10-row scan at
  * the design point). Cuckoo filters delete, so each round's update is
  * O(|delta|): insert the newly enqueued urls, delete the scheduled ones
  * ([[writeDeltas]]), touching only the outer buckets the delta hashes into.
  *
  * Exactness contract (identical to the seen-Bloom's): the probe covers the
  * frontier AT ROUND START, a superset of the still-queued `deferred` set
  * the gate joins against, and cuckoo filters have no false negatives over
  * inserted-minus-deleted items — so filter-rejected kids are truly absent
  * and probe-positives take the exact anti-join. A bucket whose filter
  * SATURATED (insert failure — see [[CuckooFilter]]'s saturation contract)
  * is written as a `.dead` marker instead of a `.cf` file and left out of
  * the inventory; it probes all-true, degrading that bucket to the exact
  * join, never to a wrong answer. The delete-safety precondition
  * (deletes ⊆ live inserts) holds by construction: departed urls are
  * exactly the scheduled slice of the frontier, every member of which was
  * inserted when it was enqueued (or at the init build).
  *
  * Budget at the 10^10-url design point: the frontier is the CRAWLABLE
  * HORIZON, typically 1–2 orders below the cumulative seen set — at 10^9
  * queued urls and 4096 outer buckets, ~2.4 bytes/url ⇒ ~0.6 MB per bucket
  * file, 64-entry executor cache ≈ 38 MB. The per-round update writes only
  * touched buckets and references the rest through the inventory, all
  * executor-side — the driver handles bucket IDS only, never filter bytes.
  */
object FrontierFilter {

  /** Hashed-and-bucketed view: (bucket, h) in the same bucket space as the
    * seen table ([[SeenFilter.bucketOf]]) so one `repartition(bucket)`
    * co-locates each outer bucket's whole delta in one task. `op` tags the
    * row: 0 = delete, 1 = insert. */
  private def hashed(urls: DataFrame, buckets: Int, op: Int): DataFrame =
    urls.select(SeenFilter.bucketOf(col("url"), buckets).as("bucket"),
      xxhash64(col("url")).as("h"), lit(op).as("op"))

  /** One shuffle on bucket, each bucket's rows sorted (op, h): deletes
    * before inserts as the protocol requires, and the h tie-break makes the
    * applied sequence — hence the filter bytes — a pure function of the
    * delta SETS, not of shuffle arrival order. */
  private def byBucket(ops: DataFrame): DataFrame =
    ops.repartition(col("bucket")).sortWithinPartitions(col("bucket"), col("op"), col("h"))

  /** The cuckoo build kernel shared by both writers, inside the store's
    * writer step: apply a bucket's ops to its previous filter, or to a
    * fresh one sized `expectedPerBucket`; a failed insert kills the bucket. */
  private def applyOps(expectedPerBucket: Long, prev: FilterInventory.Prev, outDir: String,
      conf: SerializableHadoopConf)(rows: Iterator[Row]): Iterator[(Int, Boolean)] =
    FilterInventory.writeBuckets(FilterCodec.Cuckoo, prev, outDir, conf, rows) { (last, r) =>
      val f = last.getOrElse(CuckooFilter.create(expectedPerBucket))
      if (r.getInt(2) == 0) { f.delete(r.getLong(1)); Some(f) }
      else Some(f).filter(_.insert(r.getLong(1)))
    }

  /** Build per-bucket cuckoo files from the FULL url set — fresh init,
    * resume repair, and capacity-growth rebuild. Each file is written from
    * the task that sorted its bucket; the driver collects touched bucket ids
    * (ints), never filter bytes. Returns the touched-bucket count. */
  def writeFromUrls(urls: DataFrame, buckets: Int, expectedPerBucket: Long,
      outDir: String): Int = {
    val conf = FilterInventory.writerConf(urls.sparkSession)
    val prev = FilterInventory.begin(None, outDir, conf.value)
    val touched = byBucket(hashed(urls, buckets, 1)).rdd
      .mapPartitions(applyOps(expectedPerBucket, prev, outDir, conf)).collect()
    FilterInventory.commit(outDir, conf.value, FilterCodec.Cuckoo, prev, touched)
  }

  /** Apply one round's frontier delta to the previous round's filters: per
    * touched bucket, open its live filter through `prevDir`'s inventory (the
    * file may live in an earlier round's dir; a bucket with no entry was
    * empty and gets a fresh filter sized `expectedPerBucket`), DELETE the
    * departed hashes first (freeing slots), then insert the entered ones,
    * and write the result under `outDir`. A bucket already `.dead` in
    * `prevDir` stays dead (its lost memberships are unrecoverable from
    * deltas); a bucket that saturates HERE goes dead; a bucket whose
    * referenced file is LOST goes dead too (a fresh filter would fabricate
    * false negatives). Untouched buckets are REFERENCED by the new
    * inventory, never copied; only the zero-byte `.dead` markers carry
    * physically. O(|inserts| + |deletes|) work and bytes — never a frontier
    * scan, never a full-inventory copy. Returns the touched-bucket count. */
  def writeDeltas(inserts: DataFrame, deletes: DataFrame, buckets: Int,
      expectedPerBucket: Long, prevDir: String, outDir: String): Int = {
    val conf = FilterInventory.writerConf(inserts.sparkSession)
    val prev = FilterInventory.begin(Some(prevDir), outDir, conf.value)
    val touched = byBucket(hashed(deletes, buckets, 0).unionByName(hashed(inserts, buckets, 1)))
      .rdd.mapPartitions(applyOps(expectedPerBucket, prev, outDir, conf)).collect()
    FilterInventory.commit(outDir, conf.value, FilterCodec.Cuckoo, prev, touched)
  }

  /** Per-bucket capacity implied by a checkpointed inventory: reads ONE
    * live bucket file's header (8 bytes — never a table), resolved through
    * the inventory, and inverts [[CuckooFilter.create]]'s sizing, so a
    * resume derives the cap the pre-crash run had GROWN to instead of
    * resetting to the config default (which would make [[writeDeltas]]
    * create undersized filters for previously-empty buckets — extra dead
    * buckets, an ADVICE r5 perf regression). None when the inventory holds
    * no live file. */
  def resumedCap(dir: String, spark: SparkSession): Option[Long] =
    FilterInventory.readLive(dir, spark.sparkContext.hadoopConfiguration,
      FilterCodec.Cuckoo.suffix) { in =>
      in.readInt() // version (readFrom validates; the header shape is ours)
      val numBuckets = in.readInt()
      (numBuckets.toLong * CuckooFilter.SlotsPerBucket * CuckooFilter.TargetLoad).toLong
    }

  /** Broadcast a file-backed frontier probe: constant-size on the wire no
    * matter how large the frontier. */
  def broadcastFileCuckoos(spark: SparkSession, buckets: Int, dir: String,
      maxCached: Int = 64): Broadcast[FilterInventory.FileProbe[_]] =
    FilterInventory.broadcastProbe(spark, buckets, dir, FilterCodec.Cuckoo, maxCached)
}
