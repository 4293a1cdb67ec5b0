package graft.crawl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.model.CrawlConfig
import graft.synth.Synth

class CuckooFilterSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def hashes(n: Int, seed: Long): Seq[Long] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(r.nextLong())
  }

  test("kernel: no false negatives over inserted items; sampled fpp tiny") {
    val f = CuckooFilter.create(10000)
    val in = hashes(10000, 1L)
    in.foreach(h => assert(f.insert(h), "insert failed below sized capacity"))
    in.foreach(h => assert(f.mightContain(h), "false negative"))
    // 16-bit fingerprints: fpp ≈ 8/2^16 ≈ 0.012% — allow generous slack
    val probes = hashes(20000, 2L).filterNot(in.toSet)
    val fp = probes.count(f.mightContain)
    assert(fp <= 20, s"fpp too high: $fp/20000")
  }

  test("kernel: delete frees membership and slots; survivors keep no-false-negative") {
    val f = CuckooFilter.create(4096)
    val keep = hashes(2000, 3L)
    val drop = hashes(2000, 4L).filterNot(keep.toSet)
    (keep ++ drop).foreach(h => assert(f.insert(h)))
    val before = f.occupied
    drop.foreach(h => assert(f.delete(h), "delete of an inserted item must succeed"))
    assert(f.occupied == before - drop.size, "each delete frees exactly one slot")
    keep.foreach(h => assert(f.mightContain(h), "false negative after unrelated deletes"))
    // the dropped set should mostly probe false now (only fp-collisions remain)
    val still = drop.count(f.mightContain)
    assert(still <= 5, s"deleted items still probing true: $still/2000")
  }

  test("kernel: deterministic bytes across identical histories; serialization round-trips") {
    def build(): CuckooFilter = {
      val f = CuckooFilter.create(1000)
      hashes(900, 5L).foreach(f.insert)
      hashes(300, 5L).foreach(f.delete)
      f
    }
    val a = build().serialized
    val b = build().serialized
    assert(java.util.Arrays.equals(a, b), "same history must give identical bytes")
    val back = CuckooFilter.readFrom(new java.io.ByteArrayInputStream(a))
    hashes(900, 5L).drop(300).foreach(h => assert(back.mightContain(h)))
    assert(java.util.Arrays.equals(back.serialized, a))
  }

  test("kernel: saturation returns false instead of looping or lying") {
    val f = CuckooFilter.create(8) // 4 cuckoo buckets × 4 slots
    val results = hashes(200, 6L).map(f.insert)
    assert(results.contains(false), "overload must eventually refuse")
    assert(results.takeWhile(identity).size >= 8, "sized load must fit first")
  }

  test("file-backed probe: anti-join parity with the plain join (build from urls)") {
    val dir = tempDir("cuckoo-build")
    val frontier = (0 until 3000).map(i => s"https://h${i % 13}.test/f/$i").toDF("url")
    val kids = (1500 until 4500).map(i => s"https://h${i % 13}.test/f/$i")
      .toDF("url").withColumn("depth", lit(2))
    val touched = FrontierFilter.writeFromUrls(frontier, 16, 512, dir)
    assert(touched > 0 && touched <= 16)
    val probe = FrontierFilter.broadcastFileCuckoos(spark, 16, dir)
    val accel = SeenFilter.bloomAntiJoin(kids, frontier, probe)
      .select("url").as[String].collect().sorted.toSeq
    val plain = kids.join(frontier, Seq("url"), "left_anti")
      .select("url").as[String].collect().sorted.toSeq
    assert(accel == plain)
    assert(plain.size == 1500)
    probe.destroy()
  }

  test("delta maintenance tracks a churning frontier exactly across rounds") {
    val base = tempDir("cuckoo-delta")
    def urlsDf(s: Set[String]) = s.toSeq.sorted.toDF("url")
    // round 0 state
    var live: Set[String] = (0 until 1200).map(i => s"https://h$i.test/r0/$i").toSet
    FrontierFilter.writeFromUrls(urlsDf(live), 8, 512, s"$base/round=0")
    var prev = s"$base/round=0"
    val rnd = new scala.util.Random(7L)
    for (r <- 1 to 3) {
      val departed = rnd.shuffle(live.toSeq).take(400).toSet
      val entered = (0 until 500).map(i => s"https://h$i.test/r$r/$i").toSet
      val out = s"$base/round=$r"
      FrontierFilter.writeDeltas(urlsDf(entered), urlsDf(departed), 8, 512, prev, out)
      live = live -- departed ++ entered
      // parity vs the exact join against the LIVE set, with overlapping probes
      val cand = (urlsDf(rnd.shuffle(live.toSeq).take(300).toSet) // present
        .union(urlsDf(departed)) // just removed
        .union((0 until 300).map(i => s"https://hx.test/new$r/$i").toDF("url"))) // never present
      val probe = FrontierFilter.broadcastFileCuckoos(spark, 8, out)
      val accel = SeenFilter.bloomAntiJoin(cand, urlsDf(live), probe)
        .select("url").as[String].collect().sorted.toSeq
      val plain = cand.join(urlsDf(live), Seq("url"), "left_anti")
        .select("url").as[String].collect().sorted.toSeq
      assert(accel == plain, s"round $r parity")
      // the filter must be doing work: departed urls now probe mostly false
      val f = new FilterInventory.FileProbe(out, 8, FilterCodec.Cuckoo,
        new graft.util.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
      val falseCnt = urlsDf(departed)
        .select(SeenFilter.bucketOf(col("url"), 8).as("b"), xxhash64(col("url")).as("h"))
        .as[(Long, Long)].collect()
        .count { case (b, h) => !f.mightContain(b.toInt, h) }
      assert(falseCnt > 350, s"round $r: deletes not reflected ($falseCnt/400 probe false)")
      probe.destroy()
      prev = out
    }
  }

  test("saturated buckets go .dead, stay dead through deltas, and never break exactness") {
    val base = tempDir("cuckoo-dead")
    val frontier = (0 until 2000).map(i => s"https://h.test/$i").toDF("url")
    // expectedPerBucket=4 ⇒ every populated bucket overflows at 2000/4 urls
    FrontierFilter.writeFromUrls(frontier, 4, 4, s"$base/round=0")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val dead0 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/round=0"))
      .map(_.getPath.getName).filter(_.endsWith(".dead"))
    assert(dead0.nonEmpty, "overload must produce dead markers")
    // a delta on top: dead buckets must carry forward as dead, parity holds
    val entered = (0 until 50).map(i => s"https://h.test/n/$i").toDF("url")
    val departed = (0 until 50).map(i => s"https://h.test/$i").toDF("url")
    FrontierFilter.writeDeltas(entered, departed, 4, 4, s"$base/round=0", s"$base/round=1")
    val dead1 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/round=1"))
      .map(_.getPath.getName).filter(_.endsWith(".dead"))
    assert(dead0.toSet.subsetOf(dead1.toSet), "dead buckets must stay dead")
    val live = ((50 until 2000).map(i => s"https://h.test/$i") ++
      (0 until 50).map(i => s"https://h.test/n/$i")).toDF("url")
    val cand = (0 until 2200).map(i => s"https://h.test/$i").toDF("url")
    val probe = FrontierFilter.broadcastFileCuckoos(spark, 4, s"$base/round=1")
    val accel = SeenFilter.bloomAntiJoin(cand, live, probe)
      .select("url").as[String].collect().sorted.toSeq
    val plain = cand.join(live, Seq("url"), "left_anti")
      .select("url").as[String].collect().sorted.toSeq
    assert(accel == plain)
    probe.destroy()
  }

  test("delta write references untouched buckets through the inventory; GC keeps exactly the reachable files") {
    val base = tempDir("cuckoo-inv")
    val conf = spark.sparkContext.hadoopConfiguration
    val live0 = (0 until 1000).map(i => s"https://h$i.test/a/$i")
    FrontierFilter.writeFromUrls(live0.toDF("url"), 8, 512, s"$base/cuckoo/round=0")
    // a 2-url delta: at most 2 of 8 buckets touched
    val entered = Seq("https://hx.test/new/1", "https://hx.test/new/2")
    val departed = Seq(live0.head)
    val touched = FrontierFilter.writeDeltas(entered.toDF("url"), departed.toDF("url"),
      8, 512, s"$base/cuckoo/round=0", s"$base/cuckoo/round=1")
    def cfFiles(d: String) = new java.io.File(d).listFiles()
      .map(_.getName).filter(_.endsWith(".cf")).toSet
    assert(touched <= 3 && cfFiles(s"$base/cuckoo/round=1").size == touched,
      "round dir must hold exactly the touched bucket files")
    val inv1 = graft.crawl.FilterInventory.read(s"$base/cuckoo/round=1", conf).get
    assert(inv1.values.exists(_.contains("round=0")),
      "untouched buckets must reference round-0 files")
    // parity through the MIXED inventory (touched files in round=1, the
    // rest resolved into round=0)
    val live = live0.drop(1) ++ entered
    def parity(): Unit = {
      val cand = (live.take(200) ++ departed ++
        (0 until 200).map(i => s"https://hz.test/q/$i")).toDF("url")
      val probe = FrontierFilter.broadcastFileCuckoos(spark, 8, s"$base/cuckoo/round=1")
      val accel = SeenFilter.bloomAntiJoin(cand, live.toDF("url"), probe)
        .select("url").as[String].collect().sorted.toSeq
      val plain = cand.join(live.toDF("url"), Seq("url"), "left_anti")
        .select("url").as[String].collect().sorted.toSeq
      assert(accel == plain)
      probe.destroy()
    }
    parity()
    // GC below round 1 must keep the round-0 files round 1 still references
    // and drop the SUPERSEDED round-0 copies of the touched buckets
    val io = new graft.io.TableIO(spark, base)
    io.gcFiltersBelow(1)
    val kept0 = cfFiles(s"$base/cuckoo/round=0")
    assert(kept0.size == 8 - touched, s"round-0 must keep exactly the referenced files, kept $kept0")
    parity() // still exact over the swept layout
  }

  test("resumedCap re-derives the grown per-bucket capacity from a checkpointed file header") {
    val dir = tempDir("cuckoo-cap")
    val urls = (0 until 64).map(i => s"https://h.test/$i").toDF("url")
    FrontierFilter.writeFromUrls(urls, 4, 5000L, dir)
    val cap = FrontierFilter.resumedCap(dir, spark).get
    // capacity implied by the written width must cover what it was sized
    // for, and create() must reproduce the identical width (merge-safety)
    assert(cap >= 5000L)
    assert(CuckooFilter.create(cap).numBuckets == CuckooFilter.create(5000L).numBuckets)
  }

  /** A gated crawl against the independent sequential oracle
    * ([[SimCrawler]]): rows, round count and, with `seenDir`, the final
    * seen set. The gate only short-circuits the exact join, so the oracle
    * stands for the same crawl with the gate off. */
  private def assertMatchesSim(g: Synth.Graph, cfg: CrawlConfig, job: CrawlJob.JobResult,
      seenDir: Option[String] = None): Unit = {
    val sim = SimCrawler.run(g.pages, g.robots, g.redirects, g.seeds, cfg)
    val rows = job.results
      .select("round", "url", "final_url", "http_code", "crawl_status", "depth", "n_links")
      .collect().map(r => (r.getInt(0), r.getString(1), Option(r.getString(2)), r.getInt(3),
        r.getString(4), r.getInt(5), r.getInt(6))).sorted.toSeq
    val simRows = sim.results.map(r => (r.round, r.url, r.finalUrl, r.httpCode, r.status,
      r.depth, r.nLinks)).sorted
    assert(job.rounds == sim.rounds)
    assert(rows == simRows)
    seenDir.foreach { dir =>
      val seen = new graft.io.TableIO(spark, dir).readSeen(job.rounds - 1)
        .select("url").as[String].collect().toSet
      assert(seen == sim.seen)
    }
  }

  test("auto-enable gate: engages above the frontier threshold, disengages below, rows identical") {
    val g = Synth.graph(seed = 55L, hosts = 3, pagesPerHost = 14)
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)
    val dir = tempDir("ck-auto")
    // threshold 4: off for the seed rounds (frontier = 3), on as the BFS
    // widens, off again as the frontier collapses at the end
    val cfg = CrawlConfig(maxDepth = 4, hostQuotaPerRound = 3, runId = "t",
      cuckooAutoEnableAt = 4L)
    val job = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf, cfg, dir)
    assertMatchesSim(g, cfg, job)
    val io = new graft.io.TableIO(spark, dir)
    val states = (0 until job.rounds).map(r => FilterInventory.exists(io.cuckooDir(r),
      spark.sparkContext.hadoopConfiguration))
    assert(states.exists(identity), "the gate must have engaged mid-crawl")
    assert(!states.head || !states.last,
      "the gate must have been off at the narrow end(s) of the crawl")
  }

  test("persistent crawl with the cuckoo frontier gate is row-identical to without") {
    val g = Synth.graph(seed = 99L, hosts = 3, pagesPerHost = 14)
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)
    val dir = tempDir("crawl-ck")
    val cfg = CrawlConfig(maxDepth = 4, hostQuotaPerRound = 3, runId = "t",
      useCuckooFrontier = true,
      // tiny per-bucket capacity so saturation/dead-bucket handling runs
      // INSIDE the loop (the init full build and the per-round delta branch
      // both execute here; the capacity-growth rebuild is pinned by its own
      // test below)
      cuckooExpectedPerBucket = 2L)
    val job = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf, cfg, dir)
    assertMatchesSim(g, cfg, job, seenDir = Some(dir))
    // the accelerator actually ran: filter state exists for the last rounds
    val io = new graft.io.TableIO(spark, dir)
    assert((0 until job.rounds).exists(r => FilterInventory.exists(io.cuckooDir(r),
      spark.sparkContext.hadoopConfiguration)), "no cuckoo state written")
  }

  test("capacity-growth rebuild triggers mid-crawl and keeps row identity") {
    val g = Synth.graph(seed = 77L, hosts = 3, pagesPerHost = 16)
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)
    val dir = tempDir("ck-grow")
    // ONE bucket + capacity 1: cap = sizedFor(1, frontierCount) crosses a
    // doubling boundary as soon as the frontier widens past the seeds, so
    // the cap > cuckooCap rebuild branch runs mid-crawl (and again as the
    // frontier keeps growing)
    val cfg = CrawlConfig(maxDepth = 5, hostQuotaPerRound = 2, runId = "t",
      seenBuckets = 1, useCuckooFrontier = true, cuckooExpectedPerBucket = 1L)
    assertMatchesSim(g, cfg,
      CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf, cfg, dir))
  }

  test("resume repairs missing cuckoo files from the frontier and stays exact") {
    val g = Synth.graph(seed = 123L, hosts = 2, pagesPerHost = 12)
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)
    val cfg = CrawlConfig(maxDepth = 4, hostQuotaPerRound = 2, runId = "t",
      useCuckooFrontier = true)
    val partDir = tempDir("ck-part")
    CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf,
      cfg.copy(maxRounds = 2), partDir)
    // simulate a checkpoint written without (or having lost) the filter dirs
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$partDir/cuckoo"), true)
    val resumed = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf,
      cfg, partDir, resume = true)
    assertMatchesSim(g, cfg, resumed)
  }
}
