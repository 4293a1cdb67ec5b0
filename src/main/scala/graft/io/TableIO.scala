package graft.io

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions.col

/** Iceberg-shaped table/checkpoint seam over Parquet (SURVEY.md §7.1.5).
  *
  * The sandbox ships no Iceberg jars, so this implements the contract the
  * north rule needs from Iceberg — snapshot-per-round isolation, partition
  * layout on url-host hash buckets, exact resume, periodic compaction —
  * with plain Parquet dirs plus an atomically-renamed per-round JSON
  * manifest. A real Iceberg catalog can replace this seam without touching
  * the engine. All filesystem access goes through the Hadoop FileSystem
  * API, so `root` may be local, HDFS or an object store.
  *
  * Layout under `root`:
  * {{{
  *   results/round=N/   part-*.parquet      (append-only, one dir per round)
  *   seen/round=N/      bucket=B/part-*.parquet (append-only per round)
  *   seen_compacted/upto=N/ bucket=B/...    (all rounds ≤ N in one dir;
  *                                           committed iff its Spark
  *                                           _SUCCESS marker exists)
  *   frontier/round=N/  part-*.parquet      (full snapshot per round)
  *   metrics/round=N/   part-*.parquet
  *   blooms/round=N/, cuckoo/round=N/       (per-bucket filter files; the
  *                                           layout of graft.crawl.FilterInventory)
  *   manifest/round=N.json                  (commit marker, written LAST)
  * }}}
  * A round is committed iff its manifest exists; resume reads the highest
  * committed round and ignores any torn later writes (reference has no
  * resume at all — in-memory state dies with the process,
  * task_context.rs:63-66; checkpointing is the north_rule addition).
  */
final class TableIO(spark: SparkSession, root: String) {

  private def p(parts: String*): String = (Seq(root) ++ parts).mkString("/")
  private def hp(parts: String*): HPath = new HPath(p(parts: _*))
  private val fs: FileSystem =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write small bytes to `dir/name` atomically: temp file + rename.
    * Hadoop FS ops report many failures as `false` instead of throwing —
    * every boolean is checked so a failed marker write can never be
    * mistaken for a commit. */
  private def atomicWrite(dir: HPath, name: String, bytes: Array[Byte]): Unit = {
    if (!fs.mkdirs(dir))
      throw new java.io.IOException(s"mkdirs failed: $dir")
    val tmp = new HPath(dir, s"$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val dst = new HPath(dir, name)
    if (fs.exists(dst) && !fs.delete(dst, false))
      throw new java.io.IOException(s"delete failed: $dst")
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"rename failed: $tmp -> $dst")
  }

  private def readBytes(f: HPath): Array[Byte] = {
    val in = fs.open(f)
    try in.readAllBytes() finally in.close()
  }

  // the round=N partition dir re-materializes `round` on read, so the data
  // column is dropped at write to avoid a partition/data column collision
  def writeResults(round: Int, df: DataFrame): Unit =
    df.drop("round").write.mode(SaveMode.Overwrite).parquet(p("results", s"round=$round"))

  /** JSONL export of a round's results (S5 parity: the reference POSTs one
    * `PageResponse` JSON per page to the callback url,
    * server/src/http.rs:46-84). One JSON object per line, field names 1:1
    * with PageResponse (page_response.rs:10-21): original_requested_url[_raw],
    * final_url_after_redirects, nested `head` (head_response.rs:9-17) and
    * `get` (get_response.rs:9-16) sub-objects each with their own
    * StatusCode {code,label} / headers / response_timings, the full `links`
    * inventory (link.rs:7-13), crawl_status, response_timings
    * ({start_time, end_time, name="PageResponse.{url}"},
    * response_timings.rs:5-10) and task_uuid. Written NEXT TO the parquet
    * results, never instead of them. Flattening notes (engine tables hold
    * one status/header set per row — HEAD and GET hit the same fixture row):
    * head/get share the row's http_code+headers; get.body carries the
    * byte-identical extracted `text` (the engine never persists raw html on
    * results); all timings are the VIRTUAL clock stamps — same schema,
    * deterministic where the reference stamps wall time.
    *
    * One dir per round by design — the export mirrors the reference's
    * per-page callback stream, and downstream consumers retire dirs as they
    * ingest them. It is deliberately OUTSIDE the engine's bounded-listing
    * guarantee (nothing in the engine ever lists or re-reads it).
    *
    * `links` is the per-page inventory from [[graft.crawl.FrontierRound.exportLinks]]
    * (url, links array); None renders the field null (export without the
    * inventory join). */
  def writeResultsJsonl(round: Int, df: DataFrame,
      links: Option[DataFrame] = None): Unit = {
    import org.apache.spark.sql.functions.{array, coalesce, col, concat,
      date_format, lit, struct, timestamp_millis, to_json, transform, when}
    val fmt = "yyyy-MM-dd HH:mm:ss.SSS 'UTC'" // DateTime<Utc>.to_string shape
    def ts(c: org.apache.spark.sql.Column) = date_format(timestamp_millis(c), fmt)
    def timings(name: org.apache.spark.sql.Column) = struct(
      ts(col("fetch_start_ms")).as("start_time"),
      ts(col("fetch_end_ms")).as("end_time"), name.as("name"))
    def statusCode(code: org.apache.spark.sql.Column) = struct(
      code.as("code"),
      graft.crawl.StatusCodes.labelCol(code).as("label"))
    val linksType = "array<struct<uri:string,scope:string,protocol:string,source_tag:string>>"
    // date_format renders in the SESSION timezone, and this is a library
    // seam: an embedding session on a non-UTC zone would export local wall
    // time under the hardcoded 'UTC' label. Pin the session zone to UTC for
    // the plan build + write (the expression captures the zone at analysis)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val joined = links.map(l =>
        df.join(l.withColumnRenamed("url", "__links_url"),
          col("url") === col("__links_url"), "left"))
        .getOrElse(df.withColumn("links", lit(null).cast(linksType)))
      // head exists iff an HTTP HEAD got a response (http_code ≥ 0);
      // hops serialize their own StatusCode + response_timings
      // (append_redirect names them "Redirect.{source}",
      // fetch_header_command.rs:73-81; the walk happens inside the row's
      // HEAD window, so hops share the row's virtual stamps); a successful
      // HEAD always carries a (possibly empty) redirects Vec
      val head = when(col("http_code") >= 0, struct(
        col("url").as("requested_url"),
        transform(coalesce(col("redirects"),
            array().cast(graft.crawl.FrontierRound.chainType)), h => struct(
          h.getField("source").as("source"),
          h.getField("destination").as("destination"),
          statusCode(h.getField("status")).as("http_response_code"),
          h.getField("headers").as("headers"),
          struct(ts(col("fetch_start_ms")).as("start_time"),
            ts(col("fetch_end_ms")).as("end_time"),
            concat(lit("Redirect."), h.getField("source")).as("name"))
            .as("response_timings"))).as("redirects"),
        statusCode(col("http_code")).as("http_response_code"),
        col("headers").as("headers"),
        timings(concat(lit("HEADResponse."), col("url")))
          .as("response_timings")))
      // get exists iff a body was downloaded and parsed (n_links ≥ 0); the
      // GET is issued against the post-redirect target (get_response.rs:9)
      val get = when(col("n_links") >= 0, struct(
        col("final_url").as("requested_url"),
        statusCode(col("http_code")).as("http_response_code"),
        col("headers").as("headers"),
        col("text").as("body"),
        timings(concat(lit("GETResponse."), col("final_url")))
          .as("response_timings")))
      joined.select(to_json(struct(
          col("url").as("original_requested_url"),
          col("raw_url").as("original_requested_url_raw"),
          col("final_url").as("final_url_after_redirects"),
          head.as("head"),
          get.as("get"),
          when(col("n_links") >= 0,
            coalesce(col("links"), lit(null).cast(linksType))).as("links"),
          col("crawl_status").as("crawl_status"),
          timings(concat(lit("PageResponse."), col("url")))
            .as("response_timings"),
          col("run_id").as("task_uuid"))).as("value"))
        .write.mode(SaveMode.Overwrite).text(p("results_jsonl", s"round=$round"))
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  def readResultsJsonl(round: Int): DataFrame =
    spark.read.json(p("results_jsonl", s"round=$round"))

  /** Seen urls are stored partitioned by `bucket` = pmod(xxhash64(url), B) so
    * scans parallelize uniformly and per-bucket maintenance (bloom files,
    * compaction) has a natural unit. */
  def writeSeen(round: Int, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(p("seen", s"round=$round"))

  def writeFrontier(round: Int, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(p("frontier", s"round=$round"))

  def writeMetrics(round: Int, df: DataFrame): Unit =
    df.drop("round").write.mode(SaveMode.Overwrite).parquet(p("metrics", s"round=$round"))

  /** The round's seen-Bloom filter dir (cumulative through the round),
    * written executor-side by [[graft.crawl.SeenFilter.writeMergedBlooms]];
    * its layout is the filter store's ([[graft.crawl.FilterInventory]]). */
  def bloomsDir(round: Int): String = p("blooms", s"round=$round")

  /** The round's frontier cuckoo-filter dir (mirrors the frontier AFTER the
    * round), written executor-side by [[graft.crawl.FrontierFilter]]; its
    * layout is the filter store's ([[graft.crawl.FilterInventory]]). */
  def cuckooDir(round: Int): String = p("cuckoo", s"round=$round")

  /** Atomic commit marker: write to a temp file, then rename into place. */
  def commitRound(round: Int, manifestJson: String): Unit =
    atomicWrite(hp("manifest"), s"round=$round.json",
      manifestJson.getBytes(StandardCharsets.UTF_8))

  /** The committed manifest JSON of `round`, if present. */
  def readManifest(round: Int): Option[String] = {
    val f = hp("manifest", s"round=$round.json")
    if (!fs.exists(f)) None
    else Some(new String(readBytes(f), StandardCharsets.UTF_8))
  }

  /** Highest committed round, or -1 if none. */
  def lastCommittedRound(): Int = {
    val dir = hp("manifest")
    if (!fs.exists(dir)) return -1
    val rx = "round=(\\d+)\\.json".r
    fs.listStatus(dir).foldLeft(-1) { (best, st) =>
      st.getPath.getName match {
        case rx(n) => math.max(best, n.toInt)
        case _ => best
      }
    }
  }

  def readFrontier(round: Int): DataFrame =
    spark.read.parquet(p("frontier", s"round=$round"))

  private val uptoRx = "upto=(\\d+)".r

  /** Rounds with a COMMITTED compaction snapshot (`upto=N` dir whose Spark
    * `_SUCCESS` marker exists). The marker IS the commit point — a
    * separate watermark file would need delete-then-rename to update,
    * whose crash window silently un-compacts the table. */
  private def snapshotRounds(): Seq[Int] = {
    val dir = hp("seen_compacted")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case uptoRx(n) if fs.exists(new HPath(st.getPath, "_SUCCESS")) =>
          Some(n.toInt)
        case _ => None
      }
    }
  }

  /** The round whose compaction snapshot covers all seen slices ≤ it, or
    * -1 when the seen table has never been compacted. */
  def compactionWatermark(): Int = snapshotRounds().foldLeft(-1)(math.max)

  /** All committed seen urls up to `round` (inclusive), as (url, bucket):
    * the latest compaction snapshot plus the per-round tail slices after
    * it. Without compaction the union grows one directory per round — a
    * listing/small-files problem at thousands of rounds — which is exactly
    * what [[compactSeen]] bounds. */
  def readSeen(upToRound: Int): Option[DataFrame] = {
    val snaps = snapshotRounds()
    // any view older than the NEWEST snapshot may need per-round slices the
    // compaction already garbage-collected (even when an older snapshot
    // still survives mid-sweep, its tail dirs are gone) — fail loudly
    // instead of silently serving a truncated seen set (duplicate crawls).
    // The engine never asks for such a view: compaction only ever runs on
    // committed rounds, so every resume point is ≥ the newest snapshot.
    require(snaps.isEmpty || snaps.max <= upToRound,
      s"seen table is compacted beyond round $upToRound " +
        s"(snapshots at ${snaps.sorted.mkString(",")}) — slices for this view are gone")
    val w = snaps.foldLeft(-1)(math.max)
    val useCompacted = w >= 0
    val compacted =
      if (useCompacted)
        Seq(spark.read.option("basePath", p("seen_compacted", s"upto=$w"))
          .parquet(p("seen_compacted", s"upto=$w")).select("url", "bucket"))
      else Seq.empty
    val tailStart = if (useCompacted) w + 1 else 0
    // bucket= presence, not bare dir existence: a zero-new-seen round
    // writes only _SUCCESS, and schema inference over such a dir throws
    val dirs = (tailStart to upToRound).map(r => p("seen", s"round=$r"))
      .filter(d => hasBuckets(new HPath(d)))
    val tails =
      if (dirs.isEmpty) Seq.empty
      else Seq(spark.read.option("basePath", p("seen")).parquet(dirs: _*)
        .select("url", "bucket"))
    (compacted ++ tails).reduceOption(_.union(_))
  }

  /** Does the dir hold at least one bucket= partition (i.e. actual rows)? */
  private def hasBuckets(dir: HPath): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists(_.getPath.getName.startsWith("bucket="))

  /** Rewrite every seen slice ≤ `upToRound` (including any previous
    * compaction snapshot) into ONE bucket-partitioned dir, then publish the
    * `_watermark` atomically and drop the superseded per-round dirs. Must
    * only be called for a COMMITTED round. Crash-safe at every step:
    * before the watermark rename, readers still see the per-round layout;
    * after it, they ignore slices ≤ watermark, so the trailing deletes are
    * pure garbage collection. Callers holding a pre-compaction seen
    * DataFrame must re-read it afterwards (the old dirs are gone). */
  def compactSeen(upToRound: Int): Unit = {
    if (compactionWatermark() >= upToRound) return // nothing newer to fold in
    readSeen(upToRound).foreach { df =>
      // the parquet write's _SUCCESS marker is the snapshot's commit point;
      // everything after is pure garbage collection (readers already ignore
      // per-round slices ≤ upToRound and any older/partial snapshot).
      // Hash-repartition on bucket first: without it the snapshot holds up
      // to shuffle.partitions part-files PER bucket — more small files
      // than the tail dirs it replaced, so every later round's seen scan
      // pays more planning than before the sweep (measured: per-round cost
      // failed to drop back after compaction until this repartition). With
      // it, each bucket lands whole in one task → one sized file per
      // bucket, and the per-round cost sawtooths back down as designed.
      df.repartition(col("bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket")
        .parquet(p("seen_compacted", s"upto=$upToRound"))
      (0 to upToRound).foreach(r => fs.delete(hp("seen", s"round=$r"), true))
      // sweep EVERY superseded upto=* dir (committed or partial), not just
      // the immediately-previous one — orphans from earlier crashes are
      // collected here instead of accumulating full seen-table copies
      fs.listStatus(hp("seen_compacted")).foreach { st =>
        st.getPath.getName match {
          case uptoRx(n) if n.toInt != upToRound => fs.delete(st.getPath, true)
          case _ =>
        }
      }
    }
  }

  // ---------- append-only table compaction (results, metrics) ----------
  //
  // Results and metrics are APPEND-ONLY: one immutable dir per round, never
  // rewritten. Without maintenance that is the same small-files/listing
  // problem the seen table had — thousands of `round=N` dirs × up to
  // `shuffle.partitions` part files each. But unlike seen (a mutable set
  // that wants one merged layout), history never changes, so compaction
  // here folds only the TAIL — rounds since the last snapshot — into one
  // `range=A-B/round=N/` dir and leaves older snapshots untouched: each
  // sweep touches ≤ compactEvery round dirs (no quadratic re-copying of
  // all history), and the listing grows 1 dir per compactEvery rounds.
  // Commit protocol mirrors compactSeen: the range dir's Spark `_SUCCESS`
  // marker IS the commit point; readers ignore per-round tail dirs ≤ the
  // committed watermark, so the trailing deletes are pure GC.

  private val rangeRx = "range=(\\d+)-(\\d+)".r
  private val roundRx = "round=(\\d+)".r

  /** Committed (from, to) snapshot ranges for an append-only table. */
  private def committedRanges(table: String): Seq[(Int, Int)] = {
    val dir = hp(s"${table}_compacted")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case rangeRx(a, b) if fs.exists(new HPath(st.getPath, "_SUCCESS")) =>
          Some((a.toInt, b.toInt))
        case _ => None
      }
    }
  }

  /** Highest round covered by a committed snapshot range, or -1. */
  def appendCompactionWatermark(table: String): Int =
    committedRanges(table).foldLeft(-1)((m, r) => math.max(m, r._2))

  /** (round, path) of per-round dirs past `afterRound`, sorted by round.
    * The round is parsed from the dir BASENAME only — matching on the full
    * path would let a root dir whose name contains `round=<n>` hijack the
    * bound (e.g. a state root named `/data/round=7-rerun`). */
  private def tailRoundDirs(table: String, afterRound: Int): Seq[(Int, String)] = {
    val dir = hp(table)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case roundRx(r) if r.toInt > afterRound => Some(r.toInt)
        case _ => None
      }
    }.sorted.map(r => r -> p(table, s"round=$r"))
  }

  /** Fold the per-round dirs of `table` newer than the last snapshot into
    * one committed `range=A-B` dir (coalesced to `filesPerRound` part files
    * per round — round dirs written at full shuffle parallelism usually
    * hold many near-empty parts). Crash-safe: an uncommitted range dir is
    * invisible to readers and swept on the next attempt; after the
    * `_SUCCESS` commit, readers already ignore the tail dirs being GC'd. */
  def compactAppendTable(table: String, upToRound: Int, filesPerRound: Int = 1): Unit = {
    val w = appendCompactionWatermark(table)
    if (w >= upToRound) return
    // sweep orphaned UNcommitted ranges from earlier crashed attempts
    val cdir = hp(s"${table}_compacted")
    if (fs.exists(cdir)) fs.listStatus(cdir).foreach { st =>
      st.getPath.getName match {
        case rangeRx(_, _) if !fs.exists(new HPath(st.getPath, "_SUCCESS")) =>
          fs.delete(st.getPath, true)
        case _ =>
      }
    }
    val dirs = tailRoundDirs(table, w).collect { case (r, d) if r <= upToRound => d }
    if (dirs.isEmpty) return
    spark.read.option("basePath", p(table)).parquet(dirs: _*)
      .repartition(math.max(1, filesPerRound * dirs.size), col("round"))
      .write.mode(SaveMode.Overwrite).partitionBy("round")
      .parquet(p(s"${table}_compacted", s"range=${w + 1}-$upToRound"))
    // GC: the folded dirs, plus any stale tail dir ≤ the old watermark
    // resurfaced by an interrupted earlier GC (readers already ignore both)
    tailRoundDirs(table, -1).collect { case (r, d) if r <= upToRound => d }
      .foreach(d => fs.delete(new HPath(d), true))
  }

  /** Full view of an append-only table: committed snapshot ranges plus the
    * per-round tail dirs past the watermark, `round` re-materialized from
    * the partition dirs everywhere. */
  private def readAppendTable(table: String): DataFrame = {
    val ranges = committedRanges(table).sortBy(_._1)
    val w = ranges.foldLeft(-1)((m, r) => math.max(m, r._2))
    val snaps = ranges.map { case (a, b) =>
      val d = p(s"${table}_compacted", s"range=$a-$b")
      spark.read.option("basePath", d).parquet(d)
    }
    val tailDirs = tailRoundDirs(table, w).map(_._2)
    val tails =
      if (tailDirs.isEmpty) Seq.empty
      else Seq(spark.read.option("basePath", p(table)).parquet(tailDirs: _*))
    (snaps ++ tails).reduceOption(_.unionByName(_)).getOrElse(
      throw new IllegalStateException(s"append table '$table' has no committed data under $root"))
  }

  def compactResults(upToRound: Int): Unit = compactAppendTable("results", upToRound)
  def compactMetrics(upToRound: Int): Unit = compactAppendTable("metrics", upToRound)

  /** GC manifest files strictly below `keepRound`. Resume reads only the
    * HIGHEST committed round (`lastCommittedRound` = max over the listing),
    * so deleting lower manifests never moves the resume point; run on the
    * compaction cadence to keep the manifest listing bounded. */
  def gcManifestsBelow(keepRound: Int): Unit = {
    val dir = hp("manifest")
    if (!fs.exists(dir)) return
    val rx = "round=(\\d+)\\.json".r
    fs.listStatus(dir).foreach { st =>
      st.getPath.getName match {
        case rx(r) if r.toInt < keepRound => fs.delete(st.getPath, false)
        case _ =>
      }
    }
  }

  /** GC per-round dirs of `table` strictly below `keepRound` — for tables
    * where only the LATEST committed round is ever read back (frontier
    * snapshots): older rounds are superseded whole, so this is pure garbage
    * collection, run on the compaction cadence to bound the dir listing.
    * Crash-safe trivially: resume reads only `round=lastCommitted`, which is
    * ≥ `keepRound` at every call site. */
  def gcRoundDirsBelow(table: String, keepRound: Int): Unit = {
    val dir = hp(table)
    if (!fs.exists(dir)) return
    fs.listStatus(dir).foreach { st =>
      st.getPath.getName match {
        case roundRx(r) if r.toInt < keepRound => fs.delete(st.getPath, true)
        case _ =>
      }
    }
  }

  /** GC the blooms and cuckoo filter tables below `keepRound`: keep exactly
    * the files `keepRound`'s inventories reference
    * ([[graft.crawl.FilterInventory.gcBelow]]). */
  def gcFiltersBelow(keepRound: Int): Unit =
    Seq("blooms", "cuckoo").foreach(t =>
      graft.crawl.FilterInventory.gcBelow(p(t), keepRound, spark.sparkContext.hadoopConfiguration))

  def readResults(): DataFrame = readAppendTable("results")

  def readMetrics(): DataFrame = readAppendTable("metrics")
}

/** The per-round commit manifest (`manifest/round=N.json`, written LAST by
  * [[TableIO.commitRound]]): one JSON object of the round's counts. Written
  * and read with Jackson, so a reader keys on field names — never on field
  * order or spacing. */
object RoundManifest {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def encode(m: graft.model.RoundMetrics): String =
    mapper.writeValueAsString(mapper.createObjectNode()
      .put("round", m.round).put("scheduled", m.scheduled).put("fetched", m.fetched)
      .put("frontier", m.newFrontier).put("seen_total", m.seenTotal))

  /** The manifest's top-level integer fields; empty if it does not parse. */
  def fields(json: String): Map[String, Long] =
    scala.util.Try(mapper.readTree(json)).toOption.filter(_.isObject).map { n =>
      import scala.jdk.CollectionConverters._
      n.properties().asScala.collect {
        case e if e.getValue.canConvertToLong && e.getValue.isIntegralNumber =>
          e.getKey -> e.getValue.asLong
      }.toMap
    }.getOrElse(Map.empty)

  def seenTotal(json: String): Option[Long] = fields(json).get("seen_total")
}
