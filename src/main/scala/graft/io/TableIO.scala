package graft.io

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.model.{FrontierEntry, ResultRow, RoundMetrics}
import graft.util.SessionConfs

/** Iceberg-shaped table/checkpoint seam over Parquet (SURVEY.md §7.1.5).
  *
  * The sandbox ships no Iceberg jars, so this implements the contract the
  * north rule needs from Iceberg — snapshot-per-round isolation, partition
  * layout on url-host hash buckets, exact resume, periodic compaction —
  * with plain Parquet dirs plus an atomically-renamed per-round JSON
  * manifest. A real Iceberg catalog can replace this seam without touching
  * the engine. All filesystem access goes through the Hadoop FileSystem
  * API, so `root` may be local, HDFS or an object store; the engine's own
  * writes to local paths go through [[EngineFs]].
  *
  * Layout under `root`:
  * {{{
  *   rounds/round=N/                        ONE write per round (writeRound),
  *     kind=r/bucket=__HIVE_DEFAULT_PARTITION__/  results
  *     kind=f/bucket=__HIVE_DEFAULT_PARTITION__/  frontier (full snapshot)
  *     kind=s/bucket=B/                     seen urls new in the round
  *   seen_compacted/upto=N/bucket=B/        (all seen urls ≤ N in one dir;
  *                                           committed iff its Spark
  *                                           _SUCCESS marker exists)
  *   results_compacted/range=A-B/round=N/   (results of rounds A..B, same
  *                                           commit rule)
  *   results_jsonl/round=N/                 (optional JSONL export)
  *   blooms/round=N/, cuckoo/round=N/       (per-bucket filter files; the
  *                                           layout of graft.crawl.FilterInventory)
  *   manifest/round=N.json                  (commit marker with the round's
  *                                           metrics, written LAST)
  *   manifest/metrics_below=K.jsonl         (the metrics of the GC'd
  *                                           manifests of rounds < K)
  * }}}
  * A round is committed iff its manifest exists; resume reads the highest
  * committed round and ignores any torn later writes (reference has no
  * resume at all — in-memory state dies with the process,
  * task_context.rs:63-66; checkpointing is the north_rule addition).
  * Every read takes its schema from [[TableIO.ResultsSchema]],
  * [[TableIO.FrontierSchema]] or [[TableIO.SeenSchema]], so no read infers
  * one from parquet footers (a Spark job each).
  */
final class TableIO(spark: SparkSession, root: String) {
  import TableIO._

  private def p(parts: String*): String = (Seq(root) ++ parts).mkString("/")
  private def hp(parts: String*): HPath = new HPath(p(parts: _*))
  private val fs: FileSystem =
    new HPath(root).getFileSystem(EngineFs.conf(spark.sparkContext.hadoopConfiguration))

  private def readText(f: HPath): String = {
    val in = fs.open(f)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  private def list(dir: HPath): Seq[FileStatus] =
    if (fs.exists(dir)) fs.listStatus(dir).toSeq else Seq.empty

  /** Read parquet `paths` with a known schema (none: an empty frame of
    * it). Several paths need the `basePath` they share: Spark discovers
    * partitions below one base only. Partition columns the schema names
    * take its types; the rest are dropped. */
  private def read(schema: StructType, paths: Seq[String],
      basePath: Option[String] = None): DataFrame =
    if (paths.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else basePath.foldLeft(spark.read.schema(schema))(_.option("basePath", _))
      .parquet(paths: _*).select(schema.fieldNames.toIndexedSeq.map(col): _*)

  private def roundDir(round: Int): HPath = hp("rounds", s"round=$round")

  /** The rounds that have a dir under `rounds/`, sorted. The round is
    * parsed from the dir BASENAME only — matching on the full path would
    * let a root dir whose name contains `round=<n>` hijack it (e.g. a state
    * root named `/data/round=7-rerun`). */
  private def rounds(): Seq[Int] =
    list(hp("rounds")).flatMap(st => st.getPath.getName match {
      case RoundRx(r) => Some(r.toInt)
      case _ => None
    }).sorted

  /** The existing `kind=` dirs of the rounds in (after, upTo]. */
  private def kindDirs(kind: String, after: Int, upTo: Int): Seq[String] =
    rounds().filter(r => r > after && r <= upTo)
      .map(r => new HPath(roundDir(r), s"kind=$kind")).filter(fs.exists).map(_.toString)

  /** Persist a round's state with ONE write: the tagged union of `kind` r
    * (results), f (the next frontier) and s (the round's new seen urls,
    * with their `bucket` = pmod(xxhash64(url), B); null on r and f rows),
    * partitioned by kind and bucket under `rounds/round=N`. Seen is stored
    * by bucket so scans parallelize uniformly and per-bucket maintenance
    * (filter files, compaction) has a natural unit. The round=N dir
    * re-materializes `round` on read, so the state carries no such
    * column. */
  def writeRound(round: Int, state: DataFrame): Unit =
    state.write.options(EngineFs.options).mode(SaveMode.Overwrite)
      .partitionBy("kind", "bucket").parquet(roundDir(round).toString)

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
    SessionConfs.scoped(spark, "spark.sql.session.timeZone" -> "UTC") {
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
        .write.options(EngineFs.options).mode(SaveMode.Overwrite)
        .text(p("results_jsonl", s"round=$round"))
    }
  }

  def readResultsJsonl(round: Int): DataFrame =
    spark.read.json(p("results_jsonl", s"round=$round"))

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
    EngineFs.atomicWrite(fs, hp("manifest"), s"round=$round.json",
      manifestJson.getBytes(StandardCharsets.UTF_8))

  /** The committed manifest JSON of `round`, if present. */
  def readManifest(round: Int): Option[String] = {
    val f = hp("manifest", s"round=$round.json")
    if (!fs.exists(f)) None else Some(readText(f))
  }

  /** Highest committed round, or -1 if none. */
  def lastCommittedRound(): Int = manifests()._1.foldLeft(-1)(math.max)

  /** The frontier snapshot committed by `round`. */
  def readFrontier(round: Int): DataFrame = read(FrontierSchema, kindDirs("f", round - 1, round))

  private val uptoRx = "upto=(\\d+)".r

  /** Rounds with a COMMITTED compaction snapshot (`upto=N` dir whose Spark
    * `_SUCCESS` marker exists). The marker IS the commit point — a
    * separate watermark file would need delete-then-rename to update,
    * whose crash window silently un-compacts the table. */
  private def snapshotRounds(): Seq[Int] =
    list(hp("seen_compacted")).flatMap { st =>
      st.getPath.getName match {
        case uptoRx(n) if fs.exists(new HPath(st.getPath, "_SUCCESS")) => Some(n.toInt)
        case _ => None
      }
    }

  /** The round whose compaction snapshot covers all seen slices ≤ it, or
    * -1 when the seen table has never been compacted. */
  def compactionWatermark(): Int = snapshotRounds().foldLeft(-1)(math.max)

  /** The dirs that hold the seen urls up to `round`: the latest compaction
    * snapshot, if any, plus the per-round slices after it. */
  private def seenDirs(upToRound: Int): (Option[String], Seq[String]) = {
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
    (Some(p("seen_compacted", s"upto=$w")).filter(_ => w >= 0),
      kindDirs("s", w, upToRound))
  }

  /** All committed seen urls up to `round` (inclusive), as (url, bucket).
    * Without compaction the read grows one directory per round — a
    * listing/small-files problem at thousands of rounds — which is exactly
    * what [[compactSeen]] bounds. */
  def readSeen(upToRound: Int): DataFrame = {
    val (snapshot, tails) = seenDirs(upToRound)
    read(SeenSchema, snapshot.toSeq).union(read(SeenSchema, tails, Some(p("rounds"))))
  }

  /** Rewrite every seen slice ≤ `upToRound` (including any previous
    * compaction snapshot) into ONE bucket-partitioned dir, then drop the
    * superseded slices and snapshots. Must only be called for a COMMITTED
    * round. Crash-safe at every step: the snapshot's `_SUCCESS` marker is
    * its commit point; before it, readers still see the per-round layout;
    * after it, they ignore slices ≤ the snapshot, so the trailing deletes
    * are pure garbage collection. Callers holding a pre-compaction seen
    * DataFrame must re-read it afterwards (the old dirs are gone). */
  def compactSeen(upToRound: Int): Unit = {
    if (compactionWatermark() >= upToRound) return // nothing newer to fold in
    val (snapshot, tails) = seenDirs(upToRound)
    if (snapshot.isEmpty && tails.isEmpty) return
    // Hash-repartition on bucket first: without it the snapshot holds up
    // to shuffle.partitions part-files PER bucket — more small files
    // than the tail dirs it replaced, so every later round's seen scan
    // pays more planning than before the sweep (measured: per-round cost
    // failed to drop back after compaction until this repartition). With
    // it, each bucket lands whole in one task → one sized file per
    // bucket, and the per-round cost sawtooths back down as designed.
    readSeen(upToRound).repartition(col("bucket"))
      .write.options(EngineFs.options).mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(p("seen_compacted", s"upto=$upToRound"))
    rounds().filter(_ <= upToRound).foreach(r => fs.delete(new HPath(roundDir(r), "kind=s"), true))
    // sweep EVERY superseded upto=* dir (committed or partial), not just
    // the immediately-previous one — orphans from earlier crashes are
    // collected here instead of accumulating full seen-table copies
    list(hp("seen_compacted")).foreach { st =>
      st.getPath.getName match {
        case uptoRx(n) if n.toInt != upToRound => fs.delete(st.getPath, true)
        case _ =>
      }
    }
  }

  // ---------- results: an append-only table ----------
  //
  // Results are APPEND-ONLY: one immutable kind=r dir per round, never
  // rewritten. Without maintenance that is the same small-files/listing
  // problem the seen table had. But unlike seen (a mutable set that wants
  // one merged layout), history never changes, so compaction here folds
  // only the TAIL — rounds since the last snapshot — into one
  // `range=A-B/round=N/` dir and leaves older snapshots untouched: each
  // sweep touches ≤ compactEvery round dirs (no quadratic re-copying of
  // all history), and the listing grows 1 dir per compactEvery rounds.
  // Commit protocol mirrors compactSeen: the range dir's Spark `_SUCCESS`
  // marker IS the commit point; readers ignore per-round tail dirs ≤ the
  // committed watermark, so the trailing deletes are pure GC.

  private val rangeRx = "range=(\\d+)-(\\d+)".r

  /** Committed (from, to) snapshot ranges of the results table. */
  private def committedRanges(): Seq[(Int, Int)] =
    list(hp("results_compacted")).flatMap { st =>
      st.getPath.getName match {
        case rangeRx(a, b) if fs.exists(new HPath(st.getPath, "_SUCCESS")) =>
          Some((a.toInt, b.toInt))
        case _ => None
      }
    }

  /** Highest round covered by a committed results range, or -1. */
  def resultsCompactionWatermark(): Int =
    committedRanges().foldLeft(-1)((m, r) => math.max(m, r._2))

  /** Fold the results of the rounds after the last snapshot into one
    * committed `range=A-B` dir, one part file per round. Crash-safe: an
    * uncommitted range dir is invisible to readers and swept on the next
    * attempt; after the `_SUCCESS` commit, readers already ignore the tail
    * dirs being GC'd. */
  def compactResults(upToRound: Int): Unit = compactAppendTable(upToRound)

  private def compactAppendTable(upToRound: Int): Unit = {
    val w = resultsCompactionWatermark()
    if (w >= upToRound) return
    // sweep orphaned UNcommitted ranges from earlier crashed attempts
    list(hp("results_compacted")).foreach { st =>
      st.getPath.getName match {
        case rangeRx(_, _) if !fs.exists(new HPath(st.getPath, "_SUCCESS")) =>
          fs.delete(st.getPath, true)
        case _ =>
      }
    }
    val dirs = kindDirs("r", w, upToRound)
    if (dirs.isEmpty) return
    // `round` comes back from the round dirs
    read(ResultsSchema, dirs, Some(p("rounds"))).repartition(dirs.size, col("round"))
      .write.options(EngineFs.options).mode(SaveMode.Overwrite).partitionBy("round")
      .parquet(p("results_compacted", s"range=${w + 1}-$upToRound"))
    // GC: the folded dirs, plus any stale tail dir ≤ the old watermark
    // resurfaced by an interrupted earlier GC (readers already ignore both)
    rounds().filter(_ <= upToRound).foreach(r => fs.delete(new HPath(roundDir(r), "kind=r"), true))
  }

  /** Full results table: committed snapshot ranges plus the per-round
    * tail dirs past the watermark, `round` re-materialized from the
    * partition dirs everywhere (last column). Empty, in the same shape,
    * when nothing is committed. */
  private def readAppendTable(): DataFrame = {
    val ranges = committedRanges()
    val w = ranges.foldLeft(-1)((m, r) => math.max(m, r._2))
    read(ResultsSchema, ranges.sortBy(_._1).map { case (a, b) =>
      p("results_compacted", s"range=$a-$b")
    }, Some(p("results_compacted")))
      .union(read(ResultsSchema, kindDirs("r", w, Int.MaxValue), Some(p("rounds"))))
  }

  def readResults(): DataFrame = readAppendTable()

  // ---------- the manifests: commit markers and the metrics table ----------

  /** The manifest dir's entries: committed round manifests and the folded
    * metrics files of earlier GCs. */
  private def manifests(): (Seq[Int], Seq[Int]) = {
    val names = list(hp("manifest")).map(_.getPath.getName)
    (names.collect { case ManifestRx(r) => r.toInt }, names.collect { case FoldRx(k) => k.toInt })
  }

  private def foldName(below: Int) = s"metrics_below=$below.jsonl"

  /** The metrics of every committed round, one per round: the newest
    * metrics fold plus the live manifests. */
  private def roundMetrics(): Seq[RoundMetrics] = {
    val (live, folds) = manifests()
    val folded = folds.maxOption.toSeq.flatMap(k =>
      readText(hp("manifest", foldName(k))).linesIterator)
    (folded ++ live.flatMap(readManifest)).flatMap(RoundManifest.metrics)
      .map(m => m.round -> m).toMap.values.toSeq.sortBy(_.round)
  }

  /** The metrics table, built on the driver from the manifests (no Spark
    * job): [[graft.model.RoundMetrics]] with `round` moved LAST as int, the
    * shape of the results table's `round`. */
  def readMetrics(): DataFrame = {
    import spark.implicits._
    val df = roundMetrics().toDF()
    df.select((df.columns.filter(_ != "round") :+ "round").toIndexedSeq.map(col): _*)
  }

  /** GC manifest files strictly below `keepRound`, after folding their
    * metrics into one atomically written `metrics_below=K.jsonl` (the
    * previous fold plus these manifests), so the listing stays bounded and
    * [[readMetrics]] still sees every round. Resume reads only the HIGHEST
    * committed round (`lastCommittedRound` = max over the listing), so
    * deleting lower manifests never moves the resume point. Crash-safe: a
    * torn fold leaves the previous fold and every manifest in place; a fold
    * for K already covers every round < K (those rounds were committed
    * before it was written), so it is never rewritten; readers take the
    * newest fold and dedupe its rounds against the live manifests. Runs on
    * the compaction cadence. */
  def gcManifestsBelow(keepRound: Int): Unit = {
    val (live, folds) = manifests()
    val below = live.filter(_ < keepRound)
    if (below.isEmpty) return
    if (!folds.contains(keepRound))
      EngineFs.atomicWrite(fs, hp("manifest"), foldName(keepRound),
        roundMetrics().filter(_.round < keepRound).map(RoundManifest.encode)
          .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    folds.filter(_ < keepRound).foreach(k => fs.delete(hp("manifest", foldName(k)), false))
    below.foreach(r => fs.delete(hp("manifest", s"round=$r.json"), false))
  }

  /** GC the round dirs strictly below `keepRound` — what is left in them
    * is the frontier snapshot, and only the LATEST committed round's is
    * ever read back; older rounds are superseded whole. Run on the
    * compaction cadence, AFTER [[compactSeen]] and [[compactResults]] up to
    * ≥ keepRound - 1 have folded those rounds' seen and results. Crash-safe
    * trivially: resume reads only `round=lastCommitted`, which is
    * ≥ `keepRound` at every call site. */
  def gcRoundDirsBelow(keepRound: Int): Unit =
    rounds().filter(_ < keepRound).foreach(r => fs.delete(roundDir(r), true))

  /** GC the blooms and cuckoo filter tables below `keepRound`: keep exactly
    * the files `keepRound`'s inventories reference
    * ([[graft.crawl.FilterInventory.gcBelow]]). */
  def gcFiltersBelow(keepRound: Int): Unit =
    Seq("blooms", "cuckoo").foreach(t =>
      graft.crawl.FilterInventory.gcBelow(p(t), keepRound, spark.sparkContext.hadoopConfiguration))
}

object TableIO {
  private val RoundRx = "round=(\\d+)".r
  private val ManifestRx = "round=(\\d+)\\.json".r
  private val FoldRx = "metrics_below=(\\d+)\\.jsonl".r

  /** The read schemas, derived once from the model, as a file-source read
    * reports them (all nullable). Results: [[graft.model.ResultRow]] with
    * `round` LAST (the partition column trails the data columns). */
  val ResultsSchema: StructType = {
    val s = ColumnShim.nullable(Encoders.product[ResultRow].schema)
    StructType(s.filterNot(_.name == "round") :+ s("round"))
  }
  val FrontierSchema: StructType = ColumnShim.nullable(Encoders.product[FrontierEntry].schema)
  /** Seen: (url, bucket); `bucket` comes back from its partition dirs as int. */
  val SeenSchema: StructType =
    StructType(Seq(StructField("url", StringType), StructField("bucket", IntegerType)))
}

/** The per-round commit manifest (`manifest/round=N.json`, written LAST by
  * [[TableIO.commitRound]]): one JSON object carrying every
  * [[graft.model.RoundMetrics]] field. Written and read with Jackson, so a
  * reader keys on field names — never on field order or spacing. */
object RoundManifest {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def encode(m: RoundMetrics): String =
    mapper.writeValueAsString(mapper.createObjectNode()
      .put("round", m.round).put("scheduled", m.scheduled).put("fetched", m.fetched)
      .put("status_rows", m.statusRows).put("new_links", m.newLinks)
      .put("frontier", m.newFrontier).put("seen_total", m.seenTotal)
      .put("distinct_hosts", m.distinctHosts))

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

  /** The round's metrics; None unless every field is present. */
  def metrics(json: String): Option[RoundMetrics] = {
    val f = fields(json)
    Seq("round", "scheduled", "fetched", "status_rows", "new_links", "frontier",
      "seen_total", "distinct_hosts").map(f.get) match {
      case Seq(Some(r), Some(s), Some(fe), Some(st), Some(nl), Some(fr), Some(se), Some(h)) =>
        Some(RoundMetrics(r.toInt, s, fe, st, nl, fr, se, h))
      case _ => None
    }
  }
}
