package graft.crawl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.{RoundManifest, TableIO}
import graft.model._

/** The batch-iterative crawl driver (reference lifecycle: SURVEY.md §3.1 →
  * our §3.4 pipeline). Each round is one Dataset job; the driver loop is the
  * only sequential control. State (frontier / seen / results, plus the
  * metrics in the manifest) is checkpointed per round through [[TableIO]],
  * one write and one commit marker per round; resume picks up from the last
  * committed manifest and produces output identical to an uninterrupted run.
  * [[run]] is the one crawl loop: every caller, the embedded flagship query
  * included, runs it over a state dir.
  */
object CrawlJob {

  /** `roundSecs(i)` is the driver wall-time of the i-th round EXECUTED in
    * this invocation (not round number — a resume's first entry is its
    * first resumed round). Diagnostic only: the deep-crawl probe reads it
    * to evidence flat per-round cost at high round counts. */
  final case class JobResult(rounds: Int, results: DataFrame, metrics: DataFrame,
      roundSecs: Seq[Double] = Nil)

  /** The crawl task's id (reference: every response carries the task's
    * uuid, page_response.rs:20, minted per PUT /crawl). Batch analog: a
    * DETERMINISTIC name-based UUID over the task identity (seed list +
    * config), so replays and resumes of the same task agree on it while two
    * different tasks appended to one warehouse stay distinguishable. */
  def resolveRunId(seeds: Seq[String], cfg: CrawlConfig): String =
    if (cfg.runId.nonEmpty) cfg.runId
    else java.util.UUID.nameUUIDFromBytes(
      (seeds.sorted.mkString("\n") + "\u0000" + cfg.copy(runId = "").toString)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString

  /** Seed intake (reference: PUT /crawl, server/src/http.rs:24-29 — seed urls
    * enter the frontier RAW, not canonicalized, page_loader_service.rs:92). */
  def seedFrontier(spark: SparkSession, seeds: Seq[String]): DataFrame = {
    import spark.implicits._
    seeds.sorted.zipWithIndex.map { case (u, i) =>
      FrontierEntry(u, u,
        graft.canon.UrlCanon.hostOf(u).getOrElse(""),
        graft.canon.UrlCanon.protocolOf(u).getOrElse("https"),
        0, Priority.root(i))
    }.toDF()
  }

  private def emptySeen(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[String].toDF("url")
  }

  /** A round whose driver-known frontier count at round start is at most
    * this runs WITHOUT generated code ([[withInterpretedCode]]). A round's
    * plans need ~150 distinct generated classes and Spark's JVM-wide
    * codegen cache holds 100, so compiled rounds recompile nearly all of
    * them, warm or not (~366 compiles per 3-round `deep_crawl` unit of
    * `crawlbench`); interpreting is cheaper until a round is large
    * enough to pay compilation back. Rows, files, filters and manifests are
    * identical either way. The value is the largest measured size at which
    * interpreted was no slower: round 1 of a 2-round chain crawl
    * (`Synth.chainGraph(N, 3)`: frontier N, pages 3N; quota 1, cuckoo on,
    * compaction every round, local[4], 4 cores), seconds per rep,
    * interpreted vs compiled, interleaved in one warm JVM:
    *   2^10  4.34 4.27 4.19            vs 5.79 5.69 5.28
    *   2^11  3.86 3.90 4.09 3.68 3.72  vs 4.82 5.14 4.62 5.20 5.12
    *   2^12  4.32 4.04 4.13            vs 5.67 5.26 5.47
    *   2^13  4.50 4.46 4.61 4.51 4.49  vs 5.36 5.59 5.71 5.58 5.25
    *   2^14  5.68 5.48 5.75            vs 6.38 6.15 6.41
    *   2^15  7.54 7.56 7.51 6.87 6.85  vs 6.32 6.86 8.02 6.86 6.13
    *   2^16  11.74 12.06 11.42         vs 9.90 10.02 9.87
    * Every round also joins the whole pages table, so the same round 1 was
    * timed over chain webs of N hosts with L pages each, far more pages
    * than frontier (same setup, 3 reps each):
    *   N 2^10, pages 2^12  3.31 3.02 3.01  vs 4.14 4.37 3.95
    *   N 2^10, pages 2^19  3.69 3.59 3.15  vs 4.82 4.77 4.33
    *   N 2^10, pages 2^21  6.59 5.96 5.89  vs 7.54 7.46 6.20
    *   N 2^14, pages 2^19  5.05 6.55 6.13  vs 5.79 6.67 6.54
    *   N 2^14, pages 2^21  8.52 8.90 9.88  vs 8.43 9.70 9.46
    * The pages scan costs both modes about the same, but at the gate with
    * 2^21 pages the modes are even: pages tables above 2^21 rows are not
    * measured, and there the gate may interpret rounds that compiled code
    * would run faster. */
  private[crawl] val InterpretRoundsUpTo = 16384L

  /** Runs the crawl over `stateDir` (resuming from its last committed round
    * when `resume`). Rounds of at most [[InterpretRoundsUpTo]] frontier urls
    * set the session's codegen confs for their duration, so `spark` must not
    * run other queries concurrently with a crawl. */
  def run(
      spark: SparkSession,
      seeds: Seq[String],
      pages: DataFrame,
      robots: DataFrame,
      redirects: DataFrame,
      cfg: CrawlConfig,
      stateDir: String,
      resume: Boolean = false): JobResult =
    run(spark, seeds, pages, robots, redirects, cfg, stateDir, resume, InterpretRoundsUpTo)

  /** [[run]] with the interpreted-round gate given (0 = compile every
    * round, `Long.MaxValue` = interpret every round). */
  private[crawl] def run(
      spark: SparkSession,
      seeds: Seq[String],
      pages: DataFrame,
      robots: DataFrame,
      redirects: DataFrame,
      cfg: CrawlConfig,
      stateDir: String,
      resume: Boolean,
      interpretRoundsUpTo: Long): JobResult = {
    val io = new TableIO(spark, stateDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val runId = resolveRunId(seeds, cfg)
    // static per-job tables as checkpointed leaves (not just cached), so
    // every round's plan embeds a LogicalRDD leaf instead of re-analyzing
    // their plans (resolveRedirects checkpoints internally)
    val robotsCache = staticLeaf(FrontierRound.buildRobotsCache(robots))
    val resolved = FrontierRound.resolveRedirects(spark, redirects, cfg)

    var round = 0
    var frontier: DataFrame = null
    var seen: DataFrame = null

    // the persistent loop's blooms are FILE-BACKED: the driver tracks only
    // the latest committed filter DIRECTORY (the filters themselves are
    // built and merged executor-side, one file per bucket — the driver
    // never materializes filter bytes; ~9 GB at the 10^10 design point)
    var bloomDir: Option[String] = None
    // cumulative seen count, maintained INCREMENTALLY (the cumulative seen
    // table is never rescanned for a metric) + the bloom capacity derived
    // from it (filters are rebuilt wider when the load crosses capacity)
    var seenTotal = 0L
    var bloomCap = cfg.bloomExpectedPerBucket
    // frontier cuckoo state (opt-in): like the blooms, the driver tracks
    // only the latest committed filter DIRECTORY — the per-bucket files are
    // written and delta-updated executor-side ([[FrontierFilter]])
    var cuckooDir: Option[String] = None
    var cuckooCap = cfg.cuckooExpectedPerBucket
    // the cuckoo gate: forced on by config, or auto-engaged when the
    // driver-known frontier count crosses the threshold (below it the
    // O(|delta|) update costs more than the exact join it accelerates).
    // Rows are identical either way — the probe only short-circuits.
    def cuckooOn(frontierN: Long): Boolean = cfg.useCuckooFrontier ||
      (cfg.cuckooAutoEnableAt > 0 && frontierN > cfg.cuckooAutoEnableAt)
    val cuckooConfigured = cfg.useCuckooFrontier || cfg.cuckooAutoEnableAt > 0

    val last = if (resume) io.lastCommittedRound() else -1
    if (last >= 0) {
      round = last + 1
      frontier = io.readFrontier(last)
      seen = io.readSeen(last).select("url")
      // the manifest carries the cumulative count — a resume must not pay a
      // full seen-table scan for a number the commit already knew (older
      // checkpoints without the field fall back to the one-time count)
      seenTotal = io.readManifest(last).flatMap(RoundManifest.seenTotal)
        .getOrElse(seen.count())
      if (cfg.useBloomSeen) {
        bloomCap = SeenFilter.sizedFor(cfg.bloomExpectedPerBucket,
          seenTotal / math.max(cfg.seenBuckets, 1))
        bloomDir = Some(io.bloomsDir(last)).filter(FilterInventory.exists(_, conf))
        // exact-resume guard: a checkpoint written pre-bloom (or partially
        // restored) has seen rows but no bloom inventory — rebuild the filter
        // files from the seen table (distributed; no driver bytes). A
        // missing-file probe falls back to the exact join, so this guard is
        // an accelerator repair, never a correctness one.
        if (bloomDir.isEmpty && seenTotal > 0) {
          SeenFilter.writeMergedBlooms(seen.select("url"), cfg.seenBuckets,
            bloomCap, None, io.bloomsDir(last))
          bloomDir = Some(io.bloomsDir(last))
        }
      }
      // missing cuckoo files are only an accelerator gap: the first resumed
      // round runs the exact join, then the round-end write rebuilds them
      // from the full frontier (the cuckooDir.isEmpty branch below)
      if (cuckooConfigured) {
        cuckooDir = Some(io.cuckooDir(last)).filter(FilterInventory.exists(_, conf))
        // derive the resumed cap from the live files' actual width:
        // the pre-crash run may have GROWN past the config default, and a
        // reset cap would size new (previously-empty) buckets too small —
        // avoidable dead buckets until the next growth rebuild (ADVICE r5)
        cuckooDir.flatMap(FrontierFilter.resumedCap(_, spark))
          .foreach(c => cuckooCap = math.max(cuckooCap, c))
      }
    } else {
      frontier = seedFrontier(spark, seeds)
      seen = emptySeen(spark)
    }

    var frontierCount = frontier.count()
    val roundSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // a round small enough runs without generated code (see
    // [[InterpretRoundsUpTo]]); rows are the same either way
    while (frontierCount > 0 && round < cfg.maxRounds)
      withInterpretedCode(spark, frontierCount <= interpretRoundsUpTo) {
      val roundT0 = System.nanoTime()
      // broadcast payload: a path + bucket count + Hadoop conf, constant
      // size at any scale; bloomDir empty (fresh round 0) ⇒ seen is empty ⇒
      // the plain anti-join is already trivial, no probe needed
      val blooms = bloomDir.filter(_ => cfg.useBloomSeen).map(d =>
        SeenFilter.broadcastFileBlooms(spark, cfg.seenBuckets, d))
      // salted scheduling only when some host CAN exceed the threshold —
      // the driver-known frontier total gates it. The mega set stays a
      // DataFrame: the host-count aggregate rides the round plan as a
      // broadcast semi/anti split (no driver collect, no isin literal)
      val megaHosts =
        if (frontierCount > cfg.megaHostThreshold)
          Some(FrontierRound.findMegaHostsDf(frontier, cfg.megaHostThreshold))
        else None
      // frontier-membership probe (configured or auto-engaged): same
      // constant-size broadcast shape as the blooms — a directory path +
      // bucket count. cuckooDir is only ever non-empty when last round's
      // write gate was on, so the files always cover the round-start
      // frontier exactly.
      val cuckoo = cuckooDir.filter(_ => cuckooOn(frontierCount)).map(d =>
        FrontierFilter.broadcastFileCuckoos(spark, cfg.seenBuckets, d))
      val out = FrontierRound.run(spark, round, frontier, seen, pages, robotsCache, resolved, cfg, blooms, megaHosts, cuckoo)
      // ONE action materializes results, next frontier, new-seen and the
      // cuckoo delta slices and returns every count the commit needs; each
      // write below reads that leaf, never the round tree
      val m = FrontierRound.materialize(out)
      out.release()

      // persist first, commit manifest last (atomic) — exact-resume
      // contract. ONE write holds the round's results, next frontier and
      // new seen slice; the JSONL export is its own write
      io.writeRound(round, FrontierRound.stampTimings(m.state(cfg.seenBuckets), round, cfg)
        .withColumn("run_id", when(col("kind") === "r", lit(runId))))
      if (cfg.exportJsonl) {
        val stamped = FrontierRound.stampTimings(m.results, round, cfg)
          .withColumn("run_id", lit(runId))
        io.writeResultsJsonl(round, stamped,
          Some(FrontierRound.exportLinks(stamped, pages)))
      }

      // the next round reads the written checkpoints (frontier here, seen
      // after compaction below): truncates lineage AND makes each round's
      // input immutable on disk (snapshot isolation per round). The counts
      // come from the action — the cumulative seen table is never rescanned
      // for a metric.
      frontier = io.readFrontier(round)
      frontierCount = m.frontierCount
      seenTotal += m.newSeenCount

      if (cfg.useBloomSeen) {
        val cap = SeenFilter.sizedFor(cfg.bloomExpectedPerBucket,
          seenTotal / math.max(cfg.seenBuckets, 1))
        val dir = io.bloomsDir(round)
        if (cap > bloomCap) {
          // load crossed capacity: rebuild ALL filters wider from the full
          // seen table (amortized by doubling; merge needs equal widths)
          bloomCap = cap
          SeenFilter.writeMergedBlooms(io.readSeen(round).select("url"),
            cfg.seenBuckets, bloomCap, None, dir)
        } else {
          // incremental: this round's slice folded into the previous round's
          // files (touched buckets merged executor-side, the rest referenced)
          SeenFilter.writeMergedBlooms(m.newSeen, cfg.seenBuckets,
            bloomCap, bloomDir, dir)
        }
        bloomDir = Some(dir)
      }
      if (cuckooConfigured && !cuckooOn(frontierCount)) {
        // gate off for the NEXT round (frontier below the auto threshold):
        // stop maintaining the filters and forget the inventory — a later
        // re-enable must rebuild from the then-current frontier, never
        // probe stale files (stale filters could return false negatives)
        cuckooDir = None
      } else if (cuckooOn(frontierCount)) {
        val cap = SeenFilter.sizedFor(cfg.cuckooExpectedPerBucket,
          frontierCount / math.max(cfg.seenBuckets, 1))
        val dir = io.cuckooDir(round)
        if (cuckooDir.isEmpty || cap > cuckooCap) {
          // fresh init / resume repair / the frontier outgrew capacity:
          // build all filters from the full frontier table (distributed,
          // no driver bytes; amortized by capacity doubling). `frontier`
          // is already the re-read post-round table, exactly the set the
          // delta path would have maintained.
          cuckooCap = math.max(cuckooCap, cap)
          FrontierFilter.writeFromUrls(frontier.select("url"), cfg.seenBuckets,
            cuckooCap, dir)
        } else {
          // incremental: O(|delta|), never a frontier scan — insert this
          // round's enqueued urls, delete its scheduled ones
          FrontierFilter.writeDeltas(m.entered, m.departed,
            cfg.seenBuckets, cuckooCap, cuckooDir.get, dir)
        }
        cuckooDir = Some(dir)
      }
      blooms.foreach(_.unpersist(false))
      cuckoo.foreach(_.unpersist(false))

      // the manifest carries the round's metrics: the metrics table is
      // read from the manifests, never written
      io.commitRound(round, RoundManifest.encode(m.metrics(round, seenTotal)))
      m.release()

      // periodic seen compaction — strictly AFTER the commit marker (only
      // committed rounds may be folded in; a crash mid-compaction must
      // leave a resumable layout)
      if (cfg.seenCompactEvery > 0 && (round + 1) % cfg.seenCompactEvery == 0) {
        io.compactSeen(round)
        // results are append-only: fold the tail rounds into one committed
        // range dir (bounds the small-files listing the same way seen
        // compaction does, without re-copying history)
        io.compactResults(round)
        // what is left in older round dirs is their frontier snapshot,
        // superseded WHOLE each round (only the latest committed round is
        // ever read back) — GC them on the same cadence so the dir listing
        // stays bounded too
        io.gcRoundDirsBelow(round)
        // filter tables are inventory-manifested: keep exactly the files the
        // live round's inventories reference (none when a filter is off)
        io.gcFiltersBelow(round)
        // manifests below fold their metrics into one file first
        io.gcManifestsBelow(round)
      }
      seen = io.readSeen(round).select("url")

      roundSecs += (System.nanoTime() - roundT0) / 1e9
      round += 1
    }

    FrontierRound.release(robotsCache)
    FrontierRound.release(resolved)
    // zero rounds executed AND nothing committed earlier (fresh run with an
    // empty seed list): the readers return the empty tables in the shape a
    // populated run yields
    JobResult(round, io.readResults(), io.readMetrics(), roundSecs.toSeq)
  }

  /** Runs `body` with Spark's generated code off when `on`: no whole-stage
    * codegen, and every projection, predicate and ordering built by its
    * interpreted factory (`factoryMode` is an internal conf, but no public
    * one stops per-operator compilation). Restores exactly what the caller
    * had, set or unset. The session confs reach executor tasks as SQL
    * local properties, so tasks interpret too. */
  private def withInterpretedCode[T](spark: SparkSession, on: Boolean)(body: => T): T =
    if (!on) body
    else {
      val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      val prev = spark.conf.getAll
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally confs.foreach { case (k, _) =>
        prev.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }

  /** A static input as a checkpointed leaf. An embedded fixture (every
    * leaf of its analyzed plan is a LocalRelation) parallelizes
    * ~one partition per row, and the leaf would keep that granularity —
    * every stage of every round then dispatches one near-empty task per
    * row — so it is coalesced to one partition first. The check reads the
    * plan and runs no job; a table scan keeps its own partitioning. */
  private[crawl] def staticLeaf(df: DataFrame): DataFrame = {
    val embedded = df.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    (if (embedded) df.coalesce(1) else df).localCheckpoint(true)
  }

  /** Canonical result ordering for parity checks: a contiguous global rank
    * over (round, depth, priority, url) — a total order (url is unique
    * within a round). Computed DISTRIBUTED: global range-partitioned sort
    * (Spark's orderBy) + per-partition zipWithIndex — never a
    * single-partition window (`WindowExec: No Partition Defined` is a
    * scale-killer on a real results table). */
  def orderedResults(results: DataFrame): DataFrame = {
    val spark = results.sparkSession
    val sorted = results.orderBy(col("round"), col("depth"), col("priority"), col("url"))
    val schema = org.apache.spark.sql.types.StructType(sorted.schema.fields :+
      org.apache.spark.sql.types.StructField("schedule_rank", org.apache.spark.sql.types.LongType, nullable = false))
    val ranked = sorted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(ranked, schema)
  }

  def main(args: Array[String]): Unit = {
    // spark-submit entry: CrawlJob <pagesDir> <robotsDir> <redirectsDir>
    //   <stateDir> <seedUrl>[,<seedUrl>...] [maxDepth] [hostQuota]
    //   [--resume] [--cuckoo]
    val spark = SparkSession.builder()
      .appName("graft-crawl")
      // spark-submit injects the real master; default for local sbt runs
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER",
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val Array(pagesDir, robotsDir, redirectsDir, stateDir, seedList, rest @ _*) = args
    val restArgs = rest.filterNot(_.startsWith("--"))
    val cfg = CrawlConfig(
      maxDepth = restArgs.headOption.map(_.toInt).getOrElse(16),
      hostQuotaPerRound = restArgs.drop(1).headOption.map(_.toInt).getOrElse(4),
      useCuckooFrontier = args.contains("--cuckoo"))
    val res = run(spark,
      seedList.split(",").toSeq,
      spark.read.parquet(pagesDir),
      spark.read.parquet(robotsDir),
      spark.read.parquet(redirectsDir),
      cfg, stateDir, resume = args.contains("--resume"))
    println(s"""{"rounds":${res.rounds},"results":${res.results.count()}}""")
    spark.stop()
  }
}
