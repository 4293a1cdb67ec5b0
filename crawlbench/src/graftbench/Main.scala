package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.crawl.{CrawlJob, FrontierFilter, SeenFilter}
import graft.io.TableIO
import graft.model.{CrawlConfig, RobotsRow}
import graft.synth.Synth

/** The benchmark program: one workload, one seed, one JVM.
  *
  *   graftbench.Main --workload deep_crawl|ops_queries --seed N --seconds S
  *     --trace 0|1 --work DIR --out FILE [--input-s X] [--size full|toy]
  *
  * `ops_queries` reads the table sample `crawlbench/run.py` wrote to
  * `DIR/sample`, and `--input-s` is the time that sampling took.
  *
  * It times calls into the program's public entry points from outside
  * (`CrawlJob.run`, `SparkEntry.queries`, the kernel objects), checks the
  * outputs, and writes one JSON record to `--out`. With `--trace 1` a
  * [[Tracer]] attributes every Spark job to its call site and round, and
  * the record carries the per-layer metrics, spans and self times instead
  * of the end-to-end ones. `crawlbench/run.py` builds and drives it. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, inputS: Double, toy: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("work"), req("out"), m.getOrElse("input-s", "0").toDouble, m.getOrElse("size", "full") == "toy")
  }

  /** Metric name → (value, unit). */
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  /** What a workload hands back: metrics, gate verdicts, counted operations,
    * digests for the cross-run check, and trace extras. */
  final class Outcome {
    val metrics: Metrics = mutable.LinkedHashMap.empty
    val gates = mutable.ArrayBuffer.empty[Gate]
    var attempted = 0
    var failed = 0
    val digests = mutable.LinkedHashMap.empty[String, String]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def gate(g: Gate): Unit = { gates += g; attempted += 1; if (!g.ok) failed += 1 }
    /** Runs one counted operation; a throw counts as a failed operation. */
    def op[T](what: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f) catch {
        case e: Throwable =>
          failed += 1
          gates += Gate(s"op:$what", ok = false,
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)}")
          None
      }
    }
  }

  /** Context shared by both workloads. */
  final class Ctx(val spark: SparkSession, val args: Args, val cpus: Int,
      val tracer: Option[Tracer], val runSpan: Int)

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parse(argv)
    val cpus = sys.env.get("GRAFT_BENCH_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val master = s"local[$cpus]"
    // configured as CrawlJob.main configures its session, plus local dirs
    // kept inside the benchmark's work dir
    val spark = SparkSession.builder()
      .appName(s"crawlbench-${args.workload}")
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(args.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = System.currentTimeMillis()
    val tracer = if (args.trace) Some(new Tracer(spark.sparkContext)) else None
    val runSpan = tracer.map(_.span(0, "run", args.workload, jvmStart, jvmStart)).getOrElse(0)
    tracer.foreach(_.span(runSpan, "setup", "session", jvmStart, sessionReady))
    val ctx = new Ctx(spark, args, cpus, tracer, runSpan)
    val outcome = new Outcome
    outcome.put("setup.session_s", (sessionReady - jvmStart) / 1e3, "s")

    args.workload match {
      case "deep_crawl" => DeepCrawl.run(ctx, outcome)
      case "ops_queries" => OpsQueries.run(ctx, outcome)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    outcome.put("peak_rss_mb", peakRssMb(), "MB")

    val trace = tracer.map { t =>
      t.drain()
      val end = System.currentTimeMillis()
      val spans = t.allSpans
      Json.obj(
        "spans" -> spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> (if (s.id == runSpan) end else s.end),
          "attrs" -> s.attrs)),
        "self_time" -> t.selfTimes.map { case (k, n, c, total, self) =>
          Json.obj("kind" -> k, "name" -> n, "count" -> c, "total_s" -> total, "self_s" -> self) },
        "listener_s" -> t.listenerSeconds)
    }
    val record = Json.obj(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "trace" -> args.trace,
      "master" -> master,
      "host_cpus" -> cpus,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "gates" -> outcome.gates.map(g => Json.obj("name" -> g.name, "ok" -> g.ok, "detail" -> g.detail)),
      "digests" -> outcome.digests,
      "metrics" -> outcome.metrics.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "extra" -> outcome.extra,
      "tracing" -> trace)
    Files.write(Paths.get(args.out), Json.render(record).getBytes(StandardCharsets.UTF_8))
    tracer.foreach(_.stop())
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Bytes written through Hadoop's local file system so far. */
  def fsBytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  def du(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)

  def rmrf(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** Runs timed units back to back until the next one would end past the
    * measuring window (always at least one). */
  def units[T](seconds: Double)(unit: Int => (T, Double)): Seq[(T, Double)] = {
    val done = mutable.ArrayBuffer.empty[(T, Double)]
    val t0 = System.nanoTime()
    var next = true
    while (next) {
      done += unit(done.size)
      val el = (System.nanoTime() - t0) / 1e9
      next = el + done.last._2 <= seconds
    }
    done.toSeq
  }

  /** Generates the input `repeats` times; returns each generation's seconds. */
  def timedInputs(ctx: Ctx, repeats: Int)(makeInput: => Unit): Seq[Double] =
    (1 to repeats).map { _ =>
      val t = System.currentTimeMillis()
      makeInput
      val e = System.currentTimeMillis()
      ctx.tracer.foreach(_.span(ctx.runSpan, "setup", "input", t, e))
      (e - t) / 1e3
    }

  /** Records the input time (median of `inputS`), runs a one-job warm-up of
    * the session, and sets `setup_s` = session start + input + warm-up. */
  def setup(ctx: Ctx, out: Outcome, inputS: Seq[Double]): Unit = {
    val w0 = System.currentTimeMillis()
    ctx.spark.range(0, 1 << 16, 1, ctx.cpus).selectExpr("sum(id)").collect()
    val w1 = System.currentTimeMillis()
    ctx.tracer.foreach(_.span(ctx.runSpan, "setup", "warmup", w0, w1))
    out.put("setup.input_s", median(inputS), "s")
    out.put("setup.warmup_s", (w1 - w0) / 1e3, "s")
    out.put("setup_s", out.metrics("setup.session_s")._1 + median(inputS) + (w1 - w0) / 1e3, "s")
  }

  def readParquetInput(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/pages"), spark.read.parquet(s"$dir/robots"),
      spark.read.parquet(s"$dir/redirects"))
}

/** Per-round Spark figures of one crawl loop, from the trace. */
object LoopStats {
  def put(out: Main.Outcome, t: Tracer, cpus: Int, rounds: Seq[(Long, Long)], urls: Long): Unit = {
    val w = JobStats.over(t, rounds)
    val n = math.max(rounds.size, 1).toDouble
    out.put("crawljob.rounds", rounds.size, "count")
    out.put("crawljob.jobs_per_round", w.jobs / n, "count")
    out.put("crawljob.tasks_per_round", w.tasks / n, "count")
    out.put("round.aqe_stage_jobs_per_round", w.aqeJobs / n, "count")
    out.put("crawljob.driver_only_s_per_round", w.idleMs / 1e3 / n, "s")
    out.put("crawljob.round_s_p50",
      if (rounds.isEmpty) 0.0 else Main.median(rounds.map { case (a, b) => (b - a) / 1e3 }), "s")
    out.put("round.core_util", if (w.wallMs > 0) w.taskRunMs.toDouble / (w.wallMs * cpus) else 0.0, "ratio")
    out.put("round.shuffle_bytes_per_url", w.shuffleBytes.toDouble / math.max(urls, 1L), "B")
    out.put("round.spill_bytes", w.spillBytes.toDouble, "B")
  }
}

/** deep_crawl: the persistent loop over a seed-generated chain web, few
  * urls per round, cut after one round and resumed. Per-round fixed cost
  * dominates: job dispatch, read-back counts, filter merge/delta writes,
  * commit, compaction and GC (cadence 1, so it runs every round). The
  * per-host quota is 1 and every host has two seeds, so the politeness
  * top-k defers a row of every host in the first two rounds. */
object DeepCrawl {
  import Main._

  final case class Size(hosts: Int, chainLen: Int, cutAfter: Int)
  val Quota = 1

  /** A seed-keyed chain web: host h is one chain /c/0 → … → /c/(len−1)
    * plus a linkless leaf /d/0, and both /c/0 and /d/0 are seeds. Even
    * hosts serve a robots.txt whose rule never matches a crawled path. */
  def graph(seed: Long, s: Size): Synth.Graph = {
    val base = (Synth.mix(seed, 1) % 100000).toInt
    def host(h: Int) = s"host${base + h}.test"
    // chainGraph lists host 0's hops first, then host 1's, …
    val chain = Synth.chainGraph(s.hosts, s.chainLen).pages.zipWithIndex.map { case (p, k) =>
      val (h, i) = (k / s.chainLen, k % s.chainLen)
      p.copy(url = s"https://${host(h)}/c/$i", text = s"chain ${host(h)}/$i :: ${Synth.mix(seed, 2, h, i)}")
    }
    val leaves = (0 until s.hosts).map { h =>
      chain(h * s.chainLen).copy(url = s"https://${host(h)}/d/0",
        html = "<html><body></body></html>".getBytes(StandardCharsets.UTF_8),
        text = s"leaf ${host(h)} :: ${Synth.mix(seed, 3, h)}")
    }
    val robots = (0 until s.hosts).map { h =>
      if (h % 2 == 0) RobotsRow(host(h), 200, "user-agent: *\ndisallow: /private/\n")
      else RobotsRow(host(h), 404, "")
    }
    Synth.Graph(chain ++ leaves, robots, Seq.empty,
      (0 until s.hosts).flatMap(h => Seq(s"https://${host(h)}/c/0", s"https://${host(h)}/d/0")))
  }

  /** The crawl the chain web must give, with quota 1: each host fetches one
    * page per round, in (depth, url) order — /c/0 and /d/0 at depth 0 in
    * rounds 0 and 1, then hop i ≥ 1 at depth i in round i + 1. */
  def expected(hosts: Seq[String], s: Size): Seq[(Int, Int, String, String)] =
    for {
      h <- hosts
      ((depth, url), round) <- ((0, s"https://$h/d/0") +:
        (0 until s.chainLen).map(i => (i, s"https://$h/c/$i"))).sorted.zipWithIndex
    } yield (round, depth, url, "Fetched")

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val size = if (ctx.args.toy) Size(2, 2, 1) else Size(4, 2, 1)
    val g = graph(ctx.args.seed, size)
    val inputDir = s"${ctx.args.work}/input"
    setup(ctx, out, timedInputs(ctx, repeats = 3)(Synth.write(spark, g, inputDir)))
    val (pages, robots, redirects) = readParquetInput(spark, inputDir)
    val hosts = g.seeds.map(u => u.stripPrefix("https://").takeWhile(_ != '/')).distinct
    val cfg = CrawlConfig(useCuckooFrontier = true, seenCompactEvery = 1,
      runId = s"deep-${ctx.args.seed}", hostQuotaPerRound = Quota)
    val neverSeen = (0 until 2000).map(i => s"https://never${ctx.args.seed}.test/x/$i")

    final case class UnitRun(rows: Seq[CrawlRow], wallS: Double, roundSecs: Seq[Double],
        calls: Seq[(Long, Long, Seq[Double])], stateDir: String, bytesWritten: Long, files: Int,
        cuckoo: Option[Kernels.FilterStats])

    def unit(i: Int, traced: Boolean): UnitRun = {
      val state = s"${ctx.args.work}/state-$i"
      rmrf(new File(state))
      val watch = if (traced) Some(new FileWatch(new File(state))) else None
      val w0 = fsBytesWritten()
      val c0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val r1 = out.op("crawl_interrupted")(CrawlJob.run(spark, g.seeds, pages, robots, redirects,
        cfg.copy(maxRounds = size.cutAfter), state))
      val n1 = System.nanoTime(); val c1 = System.currentTimeMillis()
      // the cuckoo files of the cut run still mirror a live frontier
      val cuckoo = if (!traced) None else Some {
        val io = new TableIO(spark, state)
        val dir = io.cuckooDir(io.lastCommittedRound())
        val probe = FrontierFilter.broadcastFileCuckoos(spark, cfg.seenBuckets, dir)
        val st = Kernels.filterStats(dir, ".cf", cfg.seenBuckets, spark.sparkContext.hadoopConfiguration,
          probe.value.mightContain, neverSeen)
        probe.destroy()
        st
      }
      val c2 = System.currentTimeMillis(); val n2 = System.nanoTime()
      val r2 = out.op("crawl_resumed")(CrawlJob.run(spark, g.seeds, pages, robots, redirects,
        cfg, state, resume = true))
      val n3 = System.nanoTime(); val c3 = System.currentTimeMillis()
      val w1 = fsBytesWritten()
      val files = watch.map(_.stop()).getOrElse(0)
      val rows = r2.map(r => r.results.select(col("round"), col("depth"), hex(col("priority")),
        col("url"), col("host"), col("crawl_status"), col("final_url"), col("text")).collect().toSeq.map { x =>
        CrawlRow(x.getInt(0), x.getInt(1), x.getString(2), x.getString(3), x.getString(4),
          x.getString(5), x.getString(6), x.getString(7))
      }).getOrElse(Nil)
      UnitRun(rows, (n1 - n0 + n3 - n2) / 1e9,
        r1.map(_.roundSecs).getOrElse(Nil) ++ r2.map(_.roundSecs).getOrElse(Nil),
        Seq((c0, c1, r1.map(_.roundSecs).getOrElse(Nil)), (c2, c3, r2.map(_.roundSecs).getOrElse(Nil))),
        state, w1 - w0, files, cuckoo)
    }

    def check(u: UnitRun): Unit = {
      val text = g.pages.map(p => p.url -> p.text).toMap
      out.gate(Gates.uniqueUrls(u.rows))
      out.gate(Gates.hostQuota(u.rows, Quota))
      out.gate(Gates.textIdentity(u.rows, text))
      out.gate(Gates.chainOracle(u.rows, expected(hosts, size)))
      out.digests("deep_crawl") = Gates.digest(u.rows)
    }

    def stateBytesPerUrl(u: UnitRun): Double = {
      val io = new TableIO(spark, u.stateDir)
      val seenTotal = io.readManifest(io.lastCommittedRound())
        .flatMap("\"seen_total\":(\\d+)".r.findFirstMatchIn(_)).map(_.group(1).toDouble).getOrElse(Double.NaN)
      du(new File(u.stateDir)) / seenTotal
    }

    ctx.tracer match {
      case None =>
        val runs = units(ctx.args.seconds)(i => { val u = unit(i, traced = false); (u, u.wallS) })
        runs.foreach { case (u, _) => check(u) }
        val us = runs.map(_._1)
        out.put("work_s", median(us.map(_.wallS)), "s")
        out.extra("units") = us.size
        out.extra("round_secs") = us.map(_.roundSecs)
      case Some(t) =>
        val unitSpan = t.open(ctx.runSpan, "unit", "deep_crawl")
        val u = unit(0, traced = true)
        t.close(unitSpan)
        t.drain()
        check(u)
        // rounds of each call: the loop starts when the call's first
        // `count` from CrawlJob.run (the frontier count) returns; rounds
        // then run back to back for their recorded seconds
        val roundWins = mutable.ArrayBuffer.empty[(Long, Long)]
        var preLoopResume = 0.0
        var resumeS = 0.0
        val parents = mutable.ArrayBuffer.empty[(Int, Long, Long)]
        u.calls.zipWithIndex.foreach { case ((a, b, secs), ci) =>
          val callSpan = t.span(unitSpan, "call", if (ci == 0) "CrawlJob.run(cut)" else "CrawlJob.run(resume)", a, b)
          val loop0 = t.jobsIn(a, b).find(j => j.site == "CrawlJob.run" && j.action == "count")
            .map(_.end).getOrElse(b - (secs.sum * 1e3).toLong)
          var s = loop0
          secs.zipWithIndex.foreach { case (sec, ri) =>
            val e = s + (sec * 1e3).toLong
            val rs = t.span(callSpan, "round", s"round", s, e, Map("call" -> ci, "index" -> ri))
            parents += ((rs, s, e))
            roundWins += ((s, e))
            s = e
          }
          parents += ((callSpan, a, b))
          if (ci == 1) {
            preLoopResume = (loop0 - a) / 1e3
            resumeS = preLoopResume + secs.headOption.getOrElse(0.0)
          }
        }
        t.addJobSpans(parents.toSeq)
        LoopStats.put(out, t, ctx.cpus, roundWins.toSeq, u.rows.size)
        out.put("crawljob.urls_per_s", u.rows.size / u.wallS, "url/s")
        out.put("crawljob.pre_loop_s", preLoopResume, "s")
        out.put("crawljob.resume_s", resumeS, "s")
        val rounds = math.max(roundWins.size, 1).toDouble
        out.put("io.files_written_per_round", u.files / rounds, "count")
        out.put("io.bytes_written_per_url", u.bytesWritten.toDouble / math.max(u.rows.size, 1), "B")
        out.put("io.state_bytes_per_url", stateBytesPerUrl(u), "B")
        Sites.put(out, t, Seq((t.spanOf(unitSpan).start, t.spanOf(unitSpan).end)))
        // blooms: the final committed files; cuckoo: the cut run's files
        val io = new TableIO(spark, u.stateDir)
        val bdir = io.bloomsDir(io.lastCommittedRound())
        val bprobe = SeenFilter.broadcastFileBlooms(spark, cfg.seenBuckets, bdir)
        val bl = Kernels.filterStats(bdir, ".bloom", cfg.seenBuckets, spark.sparkContext.hadoopConfiguration,
          bprobe.value.mightContain, neverSeen)
        bprobe.destroy()
        out.put("filter.bloom.bytes", bl.bytes.toDouble, "B")
        out.put("filter.bloom.fpp", bl.fpp, "ratio")
        val cf = u.cuckoo.getOrElse(Kernels.FilterStats(0, 0, 0, 0.0))
        out.put("filter.cuckoo.bytes", cf.bytes.toDouble, "B")
        out.put("filter.cuckoo.fpp", cf.fpp, "ratio")
        out.put("filter.cuckoo.dead_buckets", cf.dead.toDouble, "count")
        OpsPack.putAbsent(out)
        t.stop()
        out.put("trace.overhead_pct", 100.0 * t.listenerSeconds / u.wallS, "%")
        out.extra("wall_traced_s") = u.wallS
        val kernels = Kernels.measure(g.pages, u.rows.map(_.url) ++ neverSeen, g.robots, minSeconds = 0.3)
        KernelSpans.put(out, t, ctx.runSpan, kernels)
    }
  }
}

/** Kernel results as metrics and spans. */
object KernelSpans {
  def put(out: Main.Outcome, t: Tracer, parent: Int, ks: Seq[Kernels.KernelRun]): Unit =
    ks.foreach { k =>
      t.span(parent, "kernel", k.name, k.start, k.end, Map("items" -> k.items, "seconds" -> k.seconds))
      out.put(k.name, k.perSecond, if (k.name.endsWith("mb_per_s")) "MB/s" else "1/s")
    }
}

/** Per-call-site job counts and wall seconds (`site.<File.method>`). */
object Sites {
  /** The sites the benchmark reports as metrics; every other site is in
    * the trace record's span list. */
  val Reported: Seq[String] = Seq(
    "CrawlJob.run", "FrontierRound.finish", "FrontierRound.resolveRedirects",
    "TableIO.writeResults", "TableIO.writeSeen", "TableIO.writeFrontier", "TableIO.writeMetrics",
    "TableIO.readSeen", "TableIO.readSeenSlice", "TableIO.readFrontier", "TableIO.readAppendTable",
    "TableIO.compactSeen", "TableIO.compactAppendTable",
    "SeenFilter.writeMergedBlooms", "FrontierFilter.writeDeltas", "FrontierFilter.writeFromUrls")

  def put(out: Main.Outcome, t: Tracer, windows: Seq[(Long, Long)]): Unit = {
    val js = windows.flatMap { case (a, b) => t.jobsIn(a, b) }
    val bySite = js.groupBy(_.site)
    Reported.foreach { s =>
      val xs = bySite.getOrElse(s, Nil)
      out.put(s"site.$s.jobs", xs.size.toDouble, "count")
      out.put(s"site.$s.wall_s", xs.map(j => (math.max(j.end, j.start) - j.start) / 1e3).sum, "s")
    }
    out.extra("sites") = bySite.toSeq.sortBy(-_._2.size).map { case (s, xs) =>
      Json.obj("site" -> s, "jobs" -> xs.size, "tasks" -> xs.map(_.tasks).sum,
        "wall_s" -> xs.map(j => (math.max(j.end, j.start) - j.start) / 1e3).sum)
    }
  }
}

/** The ops pack's query list, and the zeroes a crawl workload reports for
  * the query metrics it does not exercise. */
object OpsPack {
  /** The 13 non-crawl headline queries of `graft.Bench` and the two
    * near-dup joins, in this order. */
  val Names: Seq[String] = Seq(
    "q_schedule_topk", "q_seen_antijoin", "q_host_topk", "q_exact_dedup",
    "q_minhash_lsh_buckets", "q_simhash", "q_ngram_jaccard",
    "q_embed_top1", "q_embed_lsh_buckets", "q_ivf_top1", "q_token_stats", "q_quality",
    "q_sessionize", "q_minhash_neardups", "q_cosine_neardups")

  def putAbsent(out: Main.Outcome): Unit = Names.foreach { q =>
    out.put(s"query.$q.s", 0.0, "s")
    out.put(s"query.$q.tasks", 0.0, "count")
    out.put(s"query.$q.shuffle_bytes", 0.0, "B")
  }
}

/** ops_queries: one pass over the ops pack on a seed-keyed row sample of
  * the sf0.1 tables (`crawlbench/sample.py`). Each query's output is
  * written as parquet so the timed output is the one checked against its
  * DuckDB oracle. */
object OpsQueries {
  import Main._

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val sample = s"${ctx.args.work}/sample"
    setup(ctx, out, Seq(ctx.args.inputS))
    val outDir = s"${ctx.args.work}/ops-out"
    Files.createDirectories(Paths.get(outDir))
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => OpsPack.Names.contains(k) }
    Files.write(Paths.get(s"$outDir/oracle_sql.json"), Json.render(oracles).getBytes(StandardCharsets.UTF_8))

    final case class QueryRun(name: String, start: Long, end: Long, seconds: Double)

    def pass(unitSpan: Int): Seq[QueryRun] = OpsPack.Names.flatMap { q =>
      val c0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val ok = out.op(q) {
        SparkEntry.queries(q)(spark, sample).write.mode("overwrite").parquet(s"$outDir/$q")
      }
      val n1 = System.nanoTime(); val c1 = System.currentTimeMillis()
      ctx.tracer.foreach(_.span(unitSpan, "call", q, c0, c1))
      ok.map(_ => QueryRun(q, c0, c1, (n1 - n0) / 1e9))
    }

    ctx.tracer match {
      case None =>
        val runs = units(ctx.args.seconds)(_ => { val qs = pass(0); (qs, qs.map(_.seconds).sum) })
        val complete = runs.filter(_._1.size == OpsPack.Names.size)
        out.put("work_s", median(complete.map(_._2)), "s")
        out.extra("units") = runs.size
        out.extra("query_s") = runs.map(_._1.map(q => q.name -> q.seconds).toMap)
      case Some(t) =>
        val unitSpan = t.open(ctx.runSpan, "unit", "ops_queries")
        val qs = pass(unitSpan)
        t.close(unitSpan)
        t.drain()
        val parents = t.allSpans.filter(s => s.kind == "call" && s.parent == unitSpan)
          .map(s => (s.id, s.start, s.end))
        t.addJobSpans(parents)
        qs.foreach { q =>
          val w = JobStats.over(t, Seq((q.start, q.end)))
          out.put(s"query.${q.name}.s", q.seconds, "s")
          out.put(s"query.${q.name}.tasks", w.tasks.toDouble, "count")
          out.put(s"query.${q.name}.shuffle_bytes", w.shuffleBytes.toDouble, "B")
        }
        // not exercised by this workload: no crawl loop, persistent state
        // or filter files
        LoopStats.put(out, t, ctx.cpus, Nil, 0L)
        Seq("crawljob.urls_per_s" -> "url/s", "crawljob.pre_loop_s" -> "s", "crawljob.resume_s" -> "s",
          "io.files_written_per_round" -> "count", "io.bytes_written_per_url" -> "B",
          "io.state_bytes_per_url" -> "B", "filter.bloom.bytes" -> "B", "filter.bloom.fpp" -> "ratio",
          "filter.cuckoo.bytes" -> "B", "filter.cuckoo.fpp" -> "ratio", "filter.cuckoo.dead_buckets" -> "count")
          .foreach { case (n, u) => out.put(n, 0.0, u) }
        Sites.put(out, t, qs.map(q => (q.start, q.end)))
        t.stop()
        val tracedS = qs.map(_.seconds).sum
        out.put("trace.overhead_pct", 100.0 * t.listenerSeconds / tracedS, "%")
        out.extra("wall_traced_s") = tracedS
        // the kernels read a small seed-keyed web, as the crawl would
        val web = Synth.graph(ctx.args.seed, hosts = 3, pagesPerHost = 10)
        KernelSpans.put(out, t, ctx.runSpan,
          Kernels.measure(web.pages, web.pages.map(_.url), web.robots, minSeconds = 0.3))
    }
  }
}
