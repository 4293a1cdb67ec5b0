package graft

import org.apache.spark.sql.SparkSession
import graft.crawl.CrawlJob
import graft.model.CrawlConfig
import graft.synth.Synth

/** Deep-crawl diagnostic main: drives the PERSISTENT [[CrawlJob.run]] loop
  * for hundreds of rounds (maxRounds ≫ seenCompactEvery at its production
  * default) over a long-chain graph, then reports per-round driver wall
  * times and on-disk directory counts. Evidence for the round-count axis of
  * the scale story: per-round cost must stay FLAT (no listing/lineage cost
  * growing with round number) and every state table's dir listing must stay
  * BOUNDED by the compaction cadence, not by total rounds. Not part of the
  * driver contract — a measurement tool like [[ScaleProbe]]; results are
  * recorded in BASELINE.md.
  *
  * Usage: DeepCrawlProbe [chainLen] [hosts] [compactEvery] [--cuckoo]
  */
object DeepCrawlProbe {

  private def countEntries(dir: String): Int = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0
    else {
      val s = java.nio.file.Files.list(p)
      try s.count().toInt finally s.close()
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--"))
    val pos = args.filterNot(_.startsWith("--"))
    val chainLen = pos.headOption.map(_.toInt).getOrElse(200)
    val hosts = pos.drop(1).headOption.map(_.toInt).getOrElse(4)
    val compactEvery = pos.drop(2).headOption.map(_.toInt).getOrElse(64)
    val useCuckoo = flags.contains("--cuckoo")
    // args are operator-supplied: the flatness quartiles need ≥8 rounds and
    // the snapshot/range assertions need at least one completed sweep —
    // fail with the constraint, not a confusing downstream require
    require(chainLen >= math.max(8, compactEvery),
      s"chainLen=$chainLen too short: the probe needs chainLen >= " +
        s"max(8, compactEvery=$compactEvery) for its flatness quartiles and " +
        "compaction assertions")
    // small-core session: per-round data is tiny (hosts urls/round) — the
    // probe measures round-COUNT behavior, not data throughput, and 32
    // threads of per-task overhead would only add noise to the per-round
    // driver times being measured
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val g = Synth.chainGraph(hosts, chainLen)
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)
    val stateDir = java.nio.file.Files.createTempDirectory("deep-crawl").toString
    // the state dir goes with the probe, whether its checks pass or not
    try {
      val cfg = CrawlConfig(maxDepth = chainLen + 1, hostQuotaPerRound = 4,
        seenCompactEvery = compactEvery, maxRounds = chainLen + 8,
        useCuckooFrontier = useCuckoo)
      val res = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf, cfg, stateDir)

      require(res.rounds == chainLen,
        s"chain of $chainLen must take exactly $chainLen rounds, took ${res.rounds}")
      val fetched = res.results.filter(org.apache.spark.sql.functions.col("crawl_status") === "Fetched").count()
      require(fetched == hosts.toLong * chainLen,
        s"expected ${hosts * chainLen} fetched rows, got $fetched")

      // dir listings must be bounded by the compaction cadence (tail rounds
      // since the last sweep + committed snapshots), never by total rounds
      val dirs = Map(
        "rounds" -> countEntries(s"$stateDir/rounds"),
        "seen_snapshots" -> countEntries(s"$stateDir/seen_compacted"),
        "results_ranges" -> countEntries(s"$stateDir/results_compacted"),
        "bloom_rounds" -> countEntries(s"$stateDir/blooms"),
        "cuckoo_rounds" -> countEntries(s"$stateDir/cuckoo"),
        "manifests" -> countEntries(s"$stateDir/manifest"))
      val nSweeps = chainLen / compactEvery
      require(dirs("rounds") <= compactEvery + 1,
        s"rounds=${dirs("rounds")} not bounded by cadence $compactEvery")
      // filter tables are inventory-manifested (r6): untouched buckets are
      // REFERENCED across round dirs instead of copied, so a dir survives GC
      // while any bucket still resolves into it — bounded by the bucket count
      // plus the cadence tail, never by total rounds
      Seq("bloom_rounds", "cuckoo_rounds").foreach { k =>
        require(dirs(k) <= cfg.seenBuckets + compactEvery + 1,
          s"$k=${dirs(k)} not bounded by buckets ${cfg.seenBuckets} + cadence $compactEvery")
      }
      require(dirs("seen_snapshots") == 1, s"seen keeps ONE snapshot, got ${dirs("seen_snapshots")}")
      // ×2: the local Hadoop FS pairs every round=N.json (and the one
      // metrics_below=K.jsonl fold) with a .crc sidecar
      require(dirs("manifests") <= 2 * (compactEvery + 1),
        s"manifests=${dirs("manifests")} not bounded by cadence $compactEvery")
      require(dirs("results_ranges") == nSweeps,
        s"results_ranges=${dirs("results_ranges")}, expected one range per sweep = $nSweeps")
      require(res.metrics.count() == res.rounds, "one metrics row per round, folded manifests included")

      // flatness: median of the last quarter of rounds vs the second quarter
      // (skips JIT warm-up). Medians dodge both the compaction-round spikes
      // and VM noise; the full series is printed for the record.
      val ts = res.roundSecs
      val q = ts.size / 4
      val early = median(ts.slice(q, 2 * q))
      val late = median(ts.takeRight(q))
      // early median 0.0 is theoretically possible (sub-ms rounds); Infinity/
      // NaN are not JSON tokens, so render the degenerate case as null
      val ratioStr = if (early > 0) f"${late / early}%.3f" else "null"
      val sweeps = (compactEvery - 1 until ts.size by compactEvery).map(ts)
      println(f"""{"probe":"deep_crawl","chain_len":$chainLen,"hosts":$hosts,"compact_every":$compactEvery,"rounds":${res.rounds},"fetched":$fetched,"round_sec_median_q2":$early%.3f,"round_sec_median_q4":$late%.3f,"late_over_early":$ratioStr,"compaction_round_secs":[${sweeps.map(s => f"$s%.3f").mkString(",")}],"dirs":${dirs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")},"round_secs":[${ts.map(s => f"$s%.3f").mkString(",")}]}""")
    } finally {
      val root = new org.apache.hadoop.fs.Path(stateDir)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
    }
    spark.stop()
  }
}
