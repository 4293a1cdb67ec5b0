package graft.crawl

import java.io.{DataInputStream, InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.util.sketch.BloomFilter
import graft.util.SerializableHadoopConf

/** How one filter kind reads, writes and tests a per-bucket filter file. */
sealed abstract class FilterCodec[F <: AnyRef](val suffix: String) extends Serializable {
  def read(in: InputStream): F
  def write(f: F, out: OutputStream): Unit
  def mightContain(f: F, hash: Long): Boolean
}

object FilterCodec {
  /** The seen-url Bloom filters ([[SeenFilter]]). */
  case object Bloom extends FilterCodec[BloomFilter](".bloom") {
    def read(in: InputStream): BloomFilter = BloomFilter.readFrom(in)
    def write(f: BloomFilter, out: OutputStream): Unit = f.writeTo(out)
    def mightContain(f: BloomFilter, hash: Long): Boolean = f.mightContainLong(hash)
  }

  /** The frontier cuckoo filters ([[FrontierFilter]]). */
  case object Cuckoo extends FilterCodec[CuckooFilter](".cf") {
    def read(in: InputStream): CuckooFilter = CuckooFilter.readFrom(in)
    def write(f: CuckooFilter, out: OutputStream): Unit = f.writeTo(out)
    def mightContain(f: CuckooFilter, hash: Long): Boolean = f.mightContain(hash)
  }
}

/** The file-backed filter store: the one module that knows the on-disk
  * layout of the partitioned seen-Bloom and frontier-cuckoo filters.
  *
  * A round's filter dir holds `bucket=B<suffix>` files for the buckets the
  * round touched, `bucket=B.dead` markers, and the `_inventory` manifest.
  * The manifest maps every LIVE bucket to the fs-qualified path of its
  * current filter, which may live in an EARLIER round's dir: a round writes
  * only its touched buckets and references the rest where they already are
  * (the r5-verdict #2 fix; a per-round copy-forward costs O(total filter
  * bytes + buckets·RTT) however small the delta). A dir without a manifest
  * holds no filter: the crawl loop rebuilds it from its table.
  *
  * The store owns:
  *   - the executor-side probe, [[FileProbe]], over a [[FilterCodec]] — the
  *     one probe type of the crawl loop, for the Bloom and cuckoo filters
  *     alike;
  *   - the per-bucket writer step, [[begin]] + [[writeBuckets]] +
  *     [[commit]], that every writer runs around its own build kernel;
  *   - the has-filter check [[exists]], live-file lookup for a resumed
  *     capacity ([[readLive]]), and reachability GC ([[gcBelow]]).
  *
  * Exactness never depends on a filter file. A bucket with no manifest
  * entry, a dead bucket, and a referenced file that has been lost all probe
  * maybe-seen (true), so their rows take the exact join. A writer that finds
  * a referenced file lost marks the bucket dead instead of starting it
  * fresh, which would drop its members (false negatives); a dead bucket
  * stays dead until a full build over the whole url set. The manifest is
  * written last, via temp file + rename, so a torn write leaves no
  * manifest and hence no filter; the next write into that dir clears it
  * first, so none of the torn write's files or markers survive.
  */
object FilterInventory {
  val FileName = "_inventory"

  private val RoundDir = "round=(\\d+)".r
  private val DeadMarker = "bucket=(\\d+)\\.dead".r

  private def filePath(dir: String, bucket: Int, suffix: String) =
    new HPath(dir, s"bucket=$bucket$suffix")
  private def deadPath(dir: String, bucket: Int) = new HPath(dir, s"bucket=$bucket.dead")

  private def qualify(p: HPath, conf: Configuration): HPath =
    p.getFileSystem(conf).makeQualified(p)

  // ---------- the manifest ----------

  /** The manifest's bucket → path map, if `dir/_inventory` exists. */
  def read(dir: String, conf: Configuration): Option[Map[Int, String]] = {
    val f = new HPath(dir, FileName)
    val fs = f.getFileSystem(conf)
    if (!fs.exists(f)) return None
    val in = fs.open(f)
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    Some(text.linesIterator.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      line.take(i).toInt -> line.drop(i + 1)
    }.toMap)
  }

  /** Write `dir/_inventory` atomically (temp + rename): one `bucket\tpath`
    * line per live bucket, each path fs-qualified so that GC and probes
    * agree on it whatever the working directory. */
  private def write(dir: String, conf: Configuration, entries: Map[Int, String]): Unit = {
    val d = new HPath(dir)
    val fs = d.getFileSystem(conf)
    val tmp = new HPath(d, s"$FileName.tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.toSeq.sortBy(_._1).map { case (b, p) =>
      s"$b\t${qualify(new HPath(p), conf)}\n"
    }.mkString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dst = new HPath(d, FileName)
    if (fs.exists(dst) && !fs.delete(dst, false))
      throw new java.io.IOException(s"delete failed: $dst")
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"rename failed: $tmp -> $dst")
  }

  /** Does `dir` hold a committed filter (its manifest)? */
  def exists(dir: String, conf: Configuration): Boolean = {
    val f = new HPath(dir, FileName)
    f.getFileSystem(conf).exists(f)
  }

  /** The live bucket → file map of `dir` (empty without a manifest). */
  def resolve(dir: String, conf: Configuration, suffix: String): Map[Int, String] =
    read(dir, conf).getOrElse(Map.empty).filter(_._2.endsWith(suffix))

  /** Decode the head of `dir`'s live file of the lowest bucket whose file
    * still exists — e.g. a capacity header. None when no live file exists. */
  def readLive[A](dir: String, conf: Configuration, suffix: String)(
      decode: DataInputStream => A): Option[A] =
    resolve(dir, conf, suffix).toSeq.sortBy(_._1).iterator.map(e => new HPath(e._2))
      .find(p => p.getFileSystem(conf).exists(p)).map { p =>
        val in = new DataInputStream(p.getFileSystem(conf).open(p))
        try decode(in) finally in.close()
      }

  private def open[F <: AnyRef](codec: FilterCodec[F], path: String,
      conf: Configuration): Option[F] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(codec.read(in)) finally in.close()
    }
  }

  // ---------- the probe ----------

  private object Missing

  /** File-backed probe handle: only the filter DIRECTORY path, the bucket
    * count and the Hadoop conf ship in the broadcast — constant-size
    * (~100 KB, all of it the conf) at any filter volume. Each executor
    * resolves the manifest once and lazily loads the bucket files its tasks
    * actually probe, through a per-executor cache bounded at `maxCached`
    * filters (random single-entry eviction, same policy as the robots parse
    * cache). With candidates co-partitioned by bucket a task touches
    * ~⌈buckets/shuffle.partitions⌉ buckets, so the per-task budget is
    * maxCached × (total_filter_bytes / buckets) — at the 10^10 design point
    * (9 GB of Bloom, 4096 buckets ⇒ ~2.2 MB/bucket) a 64-entry cache is
    * ~140 MB/executor.
    *
    * A bucket with no live file (never populated, dead, or lost) probes
    * maybe-seen (true): its rows fall back to the exact join. */
  final class FileProbe[F <: AnyRef](val dir: String, val buckets: Int,
      codec: FilterCodec[F], conf: SerializableHadoopConf, val maxCached: Int = 64)
      extends Serializable {
    // Missing caches a file-less bucket, so it is looked up once per
    // executor, not once per row
    @transient private lazy val cache =
      new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()
    @transient private lazy val live: Map[Int, String] =
      resolve(dir, conf.value, codec.suffix)

    private def load(bucket: Int): AnyRef =
      live.get(bucket).flatMap(open(codec, _, conf.value)).getOrElse(Missing)

    def mightContain(bucket: Int, hash: Long): Boolean = {
      var f = cache.get(bucket)
      if (f == null) {
        if (cache.size >= maxCached) graft.util.BoundedEvict.evictOne(cache)
        f = cache.computeIfAbsent(bucket, load _)
      }
      (f eq Missing) || codec.mightContain(f.asInstanceOf[F], hash)
    }
  }

  /** Broadcast a [[FileProbe]] over `dir`. */
  def broadcastProbe[F <: AnyRef](spark: SparkSession, buckets: Int, dir: String,
      codec: FilterCodec[F], maxCached: Int): Broadcast[FileProbe[_]] =
    spark.sparkContext.broadcast(new FileProbe(dir, buckets, codec,
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration),
      maxCached): FileProbe[_])

  // ---------- the writer step ----------

  /** The Hadoop conf every filter writer runs with, on the driver and in
    * its tasks: the session's, with the engine's own local file system
    * ([[graft.io.EngineFs]]), so no created file or dir forks a `chmod`. */
  def writerConf(spark: SparkSession): SerializableHadoopConf =
    new SerializableHadoopConf(graft.io.EngineFs.conf(spark.sparkContext.hadoopConfiguration))

  /** What a writer starts from: the previous round's live files and dead
    * buckets. */
  final case class Prev(live: Map[Int, String], dead: Set[Int])

  /** Start a write into `outDir`: clear whatever an earlier, uncommitted
    * attempt left there (a stale `.dead` marker would read as a dead bucket
    * once this write commits), then return the state in `prevDir`, or
    * nothing for a full build (None). Nothing references `outDir`'s files
    * yet: it belongs to a round not yet committed, or — the resume repair —
    * to one whose manifest is missing. A previous dir must hold a manifest:
    * without one its filter is unknown, and starting its buckets fresh
    * would drop their members. */
  def begin(prevDir: Option[String], outDir: String, conf: Configuration): Prev = {
    val out = new HPath(outDir)
    val fs = out.getFileSystem(conf)
    if (fs.exists(out)) fs.delete(out, true)
    prevDir match {
      case None => Prev(Map.empty, Set.empty)
      case Some(d) =>
        val live = read(d, conf).getOrElse(
          throw new IllegalStateException(s"no filter inventory in $d"))
        val p = new HPath(d)
        val dead = p.getFileSystem(conf).listStatus(p).flatMap(_.getPath.getName match {
          case DeadMarker(b) => Some(b.toInt)
          case _ => None
        }).toSet
        Prev(live, dead)
    }
  }

  /** The per-bucket writer step, run by a writer's task over its rows
    * grouped by bucket (a long `bucket` first column; each bucket's rows
    * contiguous, in one task). Per
    * bucket: open its previous filter — None for a bucket that has none —
    * fold the bucket's rows in with `apply` (None: the filter saturated),
    * then write `outDir/bucket=B<suffix>`, or a `.dead` marker for a dead
    * bucket. A bucket dead in `prev` stays dead; a bucket whose referenced
    * file is lost goes dead. Yields (bucket, dead) per bucket. */
  def writeBuckets[F <: AnyRef](codec: FilterCodec[F], prev: Prev, outDir: String,
      conf: SerializableHadoopConf, rows: Iterator[Row])(
      apply: (Option[F], Row) => Option[F]): Iterator[(Int, Boolean)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean)]
    lazy val fs = new HPath(outDir).getFileSystem(conf.value)
    var cur = -1
    var filter: Option[F] = None
    var dead = false
    def flush(): Unit = if (cur >= 0) {
      val dst = if (dead) deadPath(outDir, cur) else filePath(outDir, cur, codec.suffix)
      val os = fs.create(dst, true)
      try if (!dead) codec.write(filter.get, os) finally os.close()
      out += ((cur, dead))
    }
    rows.foreach { r =>
      val b = r.getLong(0).toInt
      if (b != cur) {
        flush()
        cur = b
        dead = prev.dead(b)
        filter = None
        if (!dead) prev.live.get(b).foreach { path =>
          filter = open(codec, path, conf.value)
          dead = filter.isEmpty
        }
      }
      if (!dead) {
        filter = apply(filter, r)
        dead = filter.isEmpty
      }
    }
    flush()
    out.iterator
  }

  /** Publish a write from the driver: carry `prev`'s untouched dead markers
    * into `outDir`, then write its manifest — `prev`'s untouched live
    * entries plus the touched live buckets. Returns the touched count. */
  def commit(outDir: String, conf: Configuration, codec: FilterCodec[_], prev: Prev,
      touched: Array[(Int, Boolean)]): Int = {
    val touchedSet = touched.map(_._1).toSet
    val fs = new HPath(outDir).getFileSystem(conf)
    (prev.dead -- touchedSet).foreach(b => fs.create(deadPath(outDir, b), true).close())
    write(outDir, conf, (prev.live -- touchedSet -- prev.dead) ++ touched.collect {
      case (b, false) => b -> filePath(outDir, b, codec.suffix).toString
    })
    touched.length
  }

  // ---------- GC ----------

  /** GC a filter table (`tableDir/round=N/...`) below `keepRound`: delete
    * every file that `keepRound`'s manifest does not reference, and every
    * round dir left holding nothing referenced. Paths are compared
    * fs-qualified on both sides, so manifests with relative paths match
    * too. No manifest at `keepRound` (the filter is off there) ⇒ nothing
    * below it is referenced. Retained bytes stay = the live inventory, and
    * the listing is bounded by min(buckets, rounds), never by total rounds.
    * Resume reads only the latest committed round, which is ≥ `keepRound`
    * at every call site. */
  def gcBelow(tableDir: String, keepRound: Int, conf: Configuration): Unit = {
    val table = new HPath(tableDir)
    val fs = table.getFileSystem(conf)
    if (!fs.exists(table)) return
    val referenced: Set[HPath] = read(new HPath(table, s"round=$keepRound").toString, conf)
      .getOrElse(Map.empty).values.map(s => qualify(new HPath(s), conf)).toSet
    fs.listStatus(table).foreach { st =>
      st.getPath.getName match {
        case RoundDir(r) if r.toInt < keepRound =>
          val files = fs.listStatus(st.getPath)
          val kept = files.map(_.getPath).filter(f => referenced(qualify(f, conf)))
            .map(_.getName).toSet
          if (kept.isEmpty) fs.delete(st.getPath, true)
          else files.foreach { f =>
            val name = f.getPath.getName
            // keep referenced files and their checksum sidecars (the
            // local/checksum FS pairs every file with .name.crc)
            val keep = kept(name) || (name.startsWith(".") && name.endsWith(".crc") &&
              kept(name.stripPrefix(".").stripSuffix(".crc")))
            if (!keep) fs.delete(f.getPath, false)
          }
        case _ =>
      }
    }
  }
}
