package graft.crawl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.model._
import graft.synth.Synth

/** End-to-end differential tests: the Spark engine vs the sequential
  * SimCrawler oracle on the same synthesized graph — final URL-seen set,
  * canonical crawl ordering, per-row statuses, byte-identical text, robots
  * compliance, and exact resume (FIXTURES.md §7; north_rule invariants). */
class CrawlE2ESpec extends AnyFunSuite with SparkTestBase.TempDirs {
  private lazy val spark = SparkTestBase.spark

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
  private def hex(v: Vector[Int]): String =
    v.flatMap(i => Seq((i >>> 24) & 0xff, (i >>> 16) & 0xff, (i >>> 8) & 0xff, i & 0xff))
      .map(x => f"$x%02x").mkString

  private type Row = (Int, String, String, String, String, Int, String, String,
    String, String, Int, String, Int, String, Int, String, Long, Long)

  // canonical scalar render of a headers map (sorted keys) for comparison
  private def hdrStr(m: collection.Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")

  private def chainStr(hops: Seq[SimCrawler.SimHop]): String =
    hops.map(h => s"${h._1}>${h._2}#${h._3}@${hdrStr(h._4)}").mkString("|")

  private def sparkRows(results: org.apache.spark.sql.DataFrame): Seq[Row] =
    results.collect().map { r =>
      val chain = Option(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("redirects"))
        .map(hops => chainStr(hops.toSeq.map(h => (h.getString(0), h.getString(1), h.getInt(2),
          h.getAs[collection.Map[String, String]](3).toMap))))
      (r.getAs[Int]("round"), r.getAs[String]("url"), r.getAs[String]("raw_url"),
        r.getAs[String]("host"),
        Option(r.getAs[String]("final_url")).orNull, r.getAs[Int]("http_code"),
        Option(r.getAs[String]("status_label")).orNull,
        Option(r.getAs[String]("content_type")).orNull,
        Option(r.getAs[collection.Map[String, String]]("headers")).map(hdrStr).orNull,
        r.getAs[String]("crawl_status"),
        r.getAs[Int]("depth"), hex(r.getAs[Array[Byte]]("priority")),
        r.getAs[Int]("n_redirects"), chain.orNull, r.getAs[Int]("n_links"),
        Option(r.getAs[String]("text")).orNull,
        r.getAs[Long]("fetch_start_ms"), r.getAs[Long]("fetch_end_ms"))
    }.toSeq.sortBy(r => (r._1, r._11, r._12, r._2))

  private def simRows(results: Seq[SimCrawler.SimResult]): Seq[Row] =
    results.map { r =>
      (r.round, r.url, r.rawUrl, r.host, r.finalUrl.orNull, r.httpCode,
        r.statusLabel.orNull,
        r.contentType.orNull, r.headers.map(hdrStr).orNull,
        r.status, r.depth, hex(r.priority),
        r.nRedirects, r.redirects.map(chainStr).orNull, r.nLinks, r.text.orNull,
        r.fetchStartMs, r.fetchEndMs)
    }.sortBy(r => (r._1, r._11, r._12, r._2))

  private def runBoth(g: Synth.Graph, cfg: CrawlConfig, tag: String) = {
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)
    val dir = tempDir(s"crawl-$tag")
    val job = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf, cfg, dir)
    val sim = SimCrawler.run(g.pages, g.robots, g.redirects, g.seeds, cfg)
    (job, sim, dir)
  }

  test("seen set, statuses, ordering and text match the oracle (2 hosts, depth 3)") {
    val g = Synth.graph(seed = 42L, hosts = 2, pagesPerHost = 12)
    val cfg = CrawlConfig(maxDepth = 3, hostQuotaPerRound = 3)
    val (job, sim, dir) = runBoth(g, cfg, "small")

    val sRows = sparkRows(job.results)
    val oRows = simRows(sim.results)
    assert(sRows.size == oRows.size, s"row count: spark=${sRows.size} sim=${oRows.size}")
    sRows.zip(oRows).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"row $i differs:\n spark=$a\n sim  =$b")
    }

    // final URL-seen set parity
    val io = new graft.io.TableIO(spark, dir)
    val sparkSeen = io.readSeen(job.rounds - 1)
      .select("url").collect().map(_.getString(0)).toSet
    assert(sparkSeen == sim.seen)

    // byte-identical extracted text per url (north_rule invariant)
    val pageText = g.pages.map(p => p.url -> p.text).toMap
    val fetched = job.results
      .filter(col("crawl_status") === CrawlStatus.Fetched && col("text").isNotNull)
      .select("final_url", "text").collect()
    assert(fetched.nonEmpty)
    fetched.foreach { r =>
      assert(r.getString(1) == pageText(r.getString(0)),
        s"text mismatch for ${r.getString(0)}")
    }
  }

  test("larger graph with all status classes exercised (5 hosts)") {
    val g = Synth.graph(seed = 7L, hosts = 5, pagesPerHost = 15)
    val cfg = CrawlConfig(maxDepth = 4, hostQuotaPerRound = 2)
    val (job, sim, _) = runBoth(g, cfg, "large")
    val sRows = sparkRows(job.results)
    val oRows = simRows(sim.results)
    assert(sRows == oRows)
    // every status class appears (fixture designed to exercise them)
    val statuses = sRows.map(_._10).toSet
    assert(statuses.contains(CrawlStatus.Fetched))
    assert(statuses.contains(CrawlStatus.ConnectionError))
    assert(statuses.contains(CrawlStatus.RestrictedByRobotsTxt))
    assert(statuses.contains(CrawlStatus.MaximumCrawlDepthReached))
    // redirects followed somewhere
    assert(sRows.exists(_._13 > 0))
  }

  test("redirect chains, status labels, and the cloudfront download branch") {
    val g = Synth.graph(seed = 7L, hosts = 5, pagesPerHost = 15)
    val cfg = CrawlConfig(maxDepth = 4, hostQuotaPerRound = 2)
    val (job, sim, _) = runBoth(g, cfg, "redirects")
    val sRows = sparkRows(job.results)
    assert(sRows == simRows(sim.results)) // chains + labels differentially pinned

    // R1: a multi-hop chain is materialized per hop with statuses
    val multiHop = sRows.filter(r => r._13 >= 2 && r._14 != null)
    assert(multiHop.nonEmpty, "fixture must exercise a multi-hop redirect")
    multiHop.foreach { r =>
      val hops = r._14.split('|')
      assert(hops.length == r._13, s"chain length must equal n_redirects: $r")
      // each hop's destination is the next hop's source
      hops.sliding(2).foreach {
        case Array(a, b) => assert(a.split('>')(1).split('#')(0) == b.split('>')(0))
        case _ =>
      }
      assert(r._5 == r._14.split('|').last.split('>')(1).split('#')(0),
        "final_url = last hop destination")
    }

    // F10: every fetched row carries the canonical label
    sRows.filter(_._10 == CrawlStatus.Fetched).foreach { r =>
      assert(r._7 == StatusCodes.label(r._6), s"label mismatch: $r")
    }
    sRows.filter(_._6 == -1).foreach(r => assert(r._7 == null))

    // F5: a cloudfront-cached 503 still downloads (n_links >= 0, text set);
    // a plain non-2xx html page does not (n_links = -1, no text)
    val cf503 = sRows.filter(r => r._6 == 503 && r._10 == CrawlStatus.Fetched)
    assert(cf503.nonEmpty, "fixture must exercise the x-cache~cloudfront branch")
    cf503.foreach { r => assert(r._15 >= 0 && r._16 != null, s"cloudfront 503 must download: $r") }
    // the full header map rides the result row, keys LOWERCASED (F9 +
    // PageResponse parity): the cloudfront fixture writes mixed-case keys
    cf503.foreach { r =>
      assert(r._9 == "content-type=text/html; charset=utf-8;x-cache=Error from cloudfront",
        s"lowercased full headers expected on fetched row: $r")
    }
    val plain404 = sRows.filter(r => r._6 == 404 && r._10 == CrawlStatus.Fetched)
    assert(plain404.nonEmpty, "fixture must exercise a non-cloudfront 404")
    plain404.foreach { r => assert(r._15 == -1 && r._16 == null, s"404 must not download: $r") }
    // bare input_hint pages (no headers column content) get the synthesized
    // single-entry map; status rows carry no headers at all
    assert(sRows.exists(r => r._10 == CrawlStatus.Fetched && r._9 == "content-type=text/html"))
    sRows.filter(r => r._10 != CrawlStatus.Fetched).foreach(r => assert(r._9 == null))

    // F5/F6: a headers map WITHOUT content-type is NOT html (the reference's
    // is_html requires the key when headers exist) — no download despite 200
    val noCt = g.pages.filter(p => p.headers != null &&
      !p.headers.keys.exists(_.equalsIgnoreCase("content-type"))).map(_.url).toSet
    assert(noCt.nonEmpty, "fixture must include a headers-without-content-type page")
    val noCtRows = sRows.filter(r => noCt.contains(r._2) && r._10 == CrawlStatus.Fetched)
    assert(noCtRows.nonEmpty, "a headers-without-content-type page must get crawled")
    noCtRows.foreach { r =>
      assert(r._15 == -1 && r._16 == null, s"keyless-headers page must not download: $r")
      assert(r._9 != null && !r._9.contains("content-type"),
        s"keyless headers map must ride the row as-is: $r")
    }
  }

  test("differential fuzz: full row parity across fresh seeds and config shapes") {
    val cases = Seq(
      (101L, 3, 9, CrawlConfig(maxDepth = 2, hostQuotaPerRound = 3, maxRounds = 10, useBloomSeen = false)),
      (202L, 4, 8, CrawlConfig(maxDepth = 3, hostQuotaPerRound = 5, maxRounds = 12, useBloomSeen = true)),
      (303L, 2, 14, CrawlConfig(maxDepth = 4, hostQuotaPerRound = 2, maxRounds = 16, useBloomSeen = false)),
      (404L, 5, 7, CrawlConfig(maxDepth = 2, hostQuotaPerRound = 7, maxRounds = 8, useBloomSeen = true)),
      (505L, 3, 11, CrawlConfig(maxDepth = 3, hostQuotaPerRound = 4, maxRounds = 12, useBloomSeen = false)),
      // config shapes off the defaults: redirect budget exhausted early
      // (terminal-3xx path on ordinary chains), redirects ignored entirely
      // (every chain entry answers its 3xx, no hops recorded), and robots
      // ignored (disallow_all hosts get fetched)
      (606L, 4, 10, CrawlConfig(maxDepth = 3, hostQuotaPerRound = 3, maxRounds = 12, maxRedirects = 1, useBloomSeen = false)),
      (705L, 3, 10, CrawlConfig(maxDepth = 3, hostQuotaPerRound = 4, maxRounds = 10, ignoreRedirects = true, useBloomSeen = true)),
      (808L, 6, 9, CrawlConfig(maxDepth = 3, hostQuotaPerRound = 3, maxRounds = 10, respectRobots = false, useBloomSeen = false)))
    cases.foreach { case (seed, hosts, per, cfg) =>
      val g = Synth.graph(seed, hosts, per)
      val (job, sim, _) = runBoth(g, cfg, s"fuzz-$seed")
      val sRows = sparkRows(job.results)
      assert(sRows == simRows(sim.results), s"seed=$seed hosts=$hosts per=$per")
      // the off-default configs must actually EXERCISE their target path —
      // parity alone passes trivially if the fixture never reaches it
      if (seed == 606L) // budget-terminal 3xx: 1 hop followed, chain unfinished
        // guaranteed reachable: host0's root (a seed) links /r/6 and the
        // 12-long chain makes /r/7 a redirect too — budget 1 stops there
        assert(sRows.exists(r => r._6 >= 300 && r._6 < 400 && r._13 == 1),
          "maxRedirects=1 fixture must exhaust a redirect budget")
      if (seed == 705L) { // redirects never followed: 3xx answered in place
        // guaranteed reachable: host0's root (a seed) links the live /r/4
        assert(sRows.exists(r => r._6 >= 300 && r._6 < 400),
          "ignoreRedirects fixture must hit a redirect entry")
        assert(sRows.forall(_._13 == 0), "no hop may be followed when ignored")
      }
      if (seed == 808L) { // robots off: the disallow_all host gets fetched
        assert(sRows.exists(r => r._4 == "host1.test" && r._10 == CrawlStatus.Fetched),
          "respectRobots=false fixture must fetch from the disallow_all host")
        assert(!sRows.exists(_._10 == CrawlStatus.RestrictedByRobotsTxt))
      }
    }
  }

  test("robots compliance: no fetch from a disallow_all host; rules enforced") {
    val g = Synth.graph(seed = 11L, hosts = 6, pagesPerHost = 10)
    val cfg = CrawlConfig(maxDepth = 3, hostQuotaPerRound = 4)
    val results = runBoth(g, cfg, "robots")._1.results
    // host1.test has robots status 403 → disallow_all
    val host1Fetches = results.filter(
      col("crawl_status") === CrawlStatus.Fetched &&
        col("url").contains("host1.test")).count()
    assert(host1Fetches == 0, "disallow_all host must never be fetched")
    val host1Status = results.filter(col("url").contains("host1.test"))
      .select("crawl_status").distinct().collect().map(_.getString(0)).toSet
    assert(host1Status.subsetOf(Set(CrawlStatus.RestrictedByRobotsTxt)))
    // host0.test blocks /page/1* except /page/10$
    val blocked = results.filter(
      col("crawl_status") === CrawlStatus.Fetched &&
        col("url").rlike("host0\\.test/page/1[0-9]*$") &&
        !col("url").endsWith("/page/10")).count()
    assert(blocked == 0)
  }

  test("depth gate: children at maxDepth yield status rows, never fetches") {
    val g = Synth.graph(seed = 42L, hosts = 2, pagesPerHost = 12)
    val cfg = CrawlConfig(maxDepth = 2, hostQuotaPerRound = 8)
    val (job, sim, _) = runBoth(g, cfg, "depth")
    val results = job.results
    assert(sparkRows(results) == simRows(sim.results))
    val overDepth = results.filter(col("depth") >= 2)
    assert(overDepth.filter(col("crawl_status") =!= CrawlStatus.MaximumCrawlDepthReached).count() == 0)
    assert(overDepth.count() > 0)
  }

  test("exact resume: interrupting after round 1 and resuming matches an uninterrupted run") {
    val g = Synth.graph(seed = 42L, hosts = 3, pagesPerHost = 10)
    val cfg = CrawlConfig(maxDepth = 3, hostQuotaPerRound = 2)
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)

    val fullDir = tempDir("crawl-full")
    val full = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf, cfg, fullDir)

    // interrupted: run with maxRounds=2, then resume from checkpoint
    val partDir = tempDir("crawl-part")
    def runIds(job: CrawlJob.JobResult) =
      job.results.select("run_id").distinct().collect().map(_.getString(0)).toSeq
    val cutIds = runIds(CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf,
      cfg.copy(maxRounds = 2), partDir))
    assert(cutIds.size == 1)
    val resumed = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf,
      cfg, partDir, resume = true)

    assert(resumed.rounds == full.rounds)
    assert(sparkRows(resumed.results) == sparkRows(full.results))
    // no runId set, and the resume's config differs (maxRounds): its rows
    // still carry the cut run's id, one id for the whole task
    assert(runIds(resumed) == cutIds)
  }

  test("exact resume without Bloom files: the first resumed round rebuilds them from the seen table") {
    // a web whose later rounds rediscover urls seen before the cut: a
    // filter built from the resumed round's slice alone would pass those
    // as never-seen, and they would be crawled twice
    val g = Synth.graph(seed = 42L, hosts = 3, pagesPerHost = 10)
    val cfg = CrawlConfig(maxDepth = 4, hostQuotaPerRound = 2, runId = "bloom-resume")
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)
    val fullDir = tempDir("bloom-full")
    val full = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf, cfg, fullDir)

    val cut = 2
    val partDir = tempDir("bloom-part")
    CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf, cfg.copy(maxRounds = cut), partDir)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$partDir/blooms"), true))
    val resumed = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf,
      cfg, partDir, resume = true)

    assert(resumed.rounds == full.rounds)
    assert(resumed.rounds - cut >= 2, "the rebuilt filter must be probed by a later round")
    assert(sparkRows(resumed.results) == sparkRows(full.results))
    def seenOf(dir: String) = new graft.io.TableIO(spark, dir).readSeen(full.rounds - 1)
      .select("url").collect().map(_.getString(0)).toSet
    assert(seenOf(partDir) == seenOf(fullDir))
  }

  test("q_crawl_e2e returns its pinned rows and leaves the session's confs as it found them") {
    val before = spark.conf.getAll
    val rows = graft.queries.Queries.crawlE2E(spark, "").collect()
    // confs the caller never set stay unset, set ones keep their values
    assert(spark.conf.getAll == before)
    // ordered-row hash: fields String.valueOf'd and joined by U+0001, each
    // row ended by a newline, SHA-256, first 16 hex digits
    val text = rows.map(r => r.toSeq.map(x => String.valueOf(x.asInstanceOf[AnyRef]))
      .mkString("\u0001")).mkString("", "\n", "\n")
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString.take(16)
    assert((rows.length, hash) == ((27, "0606a1dc1c1d3abd")))
  }

  test("exact resume across a seen-compaction boundary") {
    val g = Synth.graph(seed = 42L, hosts = 3, pagesPerHost = 10)
    // compact every 2 committed rounds: the interrupted run ends ON a
    // compaction (per-round seen dirs ≤ 1 deleted, snapshot + watermark
    // written), so resume MUST read compacted + tail slices correctly
    val cfg = CrawlConfig(maxDepth = 3, hostQuotaPerRound = 2, seenCompactEvery = 2)
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)

    val fullDir = tempDir("crawl-cfull")
    val full = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf,
      cfg.copy(seenCompactEvery = 0), fullDir) // compaction-free reference

    val partDir = tempDir("crawl-cpart")
    CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf,
      cfg.copy(maxRounds = 2), partDir)
    val io = new graft.io.TableIO(spark, partDir)
    assert(io.compactionWatermark() == 1, "round-1 compaction must have run")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$partDir/rounds/round=1/kind=s")),
      "compaction must drop superseded per-round slices")
    // results ride the same cadence: tail rounds folded into a committed
    // range dir, per-round dirs GC'd; the manifests below the sweep are
    // folded into one metrics file
    assert(io.resultsCompactionWatermark() == 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$partDir/rounds/round=0")),
      "the frontier GC must drop round dirs below the sweep")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$partDir/manifest/round=0.json")))
    assert(io.readMetrics().select("round").collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1))
    val resumed = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf,
      cfg, partDir, resume = true)

    assert(resumed.rounds == full.rounds)
    assert(sparkRows(resumed.results) == sparkRows(full.results))
    // final seen set identical whether or not any compaction ever ran
    val fullSeen = new graft.io.TableIO(spark, fullDir).readSeen(full.rounds - 1)
      .select("url").collect().map(_.getString(0)).toSet
    val compSeen = io.readSeen(resumed.rounds - 1)
      .select("url").collect().map(_.getString(0)).toSet
    assert(compSeen == fullSeen)
  }

  test("JSONL results export round-trips against the parquet results (S5)") {
    val g = Synth.graph(seed = 42L, hosts = 2, pagesPerHost = 8)
    val cfg = CrawlConfig(maxDepth = 2, hostQuotaPerRound = 4, exportJsonl = true)
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)
    val dir = tempDir("crawl-jsonl")
    // seed host0's redirect chain head directly so at least one exported
    // row deterministically carries redirect hops (in-page /r/ entry links
    // are probabilistic in the fixture). host0 is the right host: host1 is
    // ALWAYS robots-403 (disallow_all) in the fixture, so its chain head
    // would be gated before any hop; host0's /r/ paths pass its rules, and
    // its chain /r/0→…→/r/7→/page/X is 8 hops, within the 10-hop budget
    val seeds = g.seeds :+ s"https://${Synth.host(0)}/r/0"
    val job = CrawlJob.run(spark, seeds, pagesDf, robotsDf, redirectsDf, cfg, dir)
    val io = new graft.io.TableIO(spark, dir)
    var hopsSeen = 0L
    var linksSeen = 0L
    var scopedOutSeen = 0L
    var fullSchemaSeen = false
    (0 until job.rounds).foreach { r =>
      val pq = io.readResults().filter(col("round") === r)
      if (pq.count() > 0) {
        val js = io.readResultsJsonl(r)
        assert(js.count() == pq.count(), s"round $r row count")
        import org.apache.spark.sql.functions.{col => c, coalesce, explode, lit}
        // PageResponse field-name parity 1:1 (page_response.rs:10-21) —
        // spark.read.json drops keys that were null on EVERY line of a
        // round, so every inferred field must be a PageResponse field, and
        // at least one round (one with fetched+downloaded rows) must carry
        // them all
        val pageResponseFields = Set("original_requested_url",
          "original_requested_url_raw", "final_url_after_redirects", "head",
          "get", "links", "crawl_status", "response_timings", "task_uuid")
        assert(js.schema.fieldNames.toSet.subsetOf(pageResponseFields),
          s"round $r non-PageResponse fields: ${js.schema.fieldNames.toSet -- pageResponseFields}")
        if (js.schema.fieldNames.toSet == pageResponseFields) fullSchemaSeen = true
        // row parity vs parquet: url + crawl_status + the head status code
        // (head is null ⇔ no HTTP exchange ⇔ parquet http_code = -1)
        val hasHead = js.schema.fieldNames.contains("head")
        val pqSet = pq.select("url", "crawl_status", "http_code").collect()
          .map(x => (x.getString(0), x.getString(1), x.getInt(2))).toSet
        val jsSet = (if (hasHead)
            js.select(c("original_requested_url"), c("crawl_status"),
              coalesce(c("head.http_response_code.code"), lit(-1L)))
          else js.select(c("original_requested_url"), c("crawl_status"), lit(-1L)))
          .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2).toInt)).toSet
        assert(jsSet == pqSet, s"round $r rows")
        // task_uuid rides every line and equals the parquet run_id
        val runIds = pq.select("run_id").distinct().collect().map(_.getString(0))
        assert(runIds.length == 1 && runIds(0) != null)
        js.select("task_uuid").collect().foreach(x =>
          assert(x.getString(0) == runIds(0), s"round $r task_uuid"))
        // PageResponse-parity timings ride every exported line
        // (response_timings.rs:5-10: {start_time, end_time, name})
        js.select("original_requested_url", "response_timings.name",
            "response_timings.start_time", "response_timings.end_time")
          .collect().foreach { x =>
          assert(x.getString(1) == s"PageResponse.${x.getString(0)}")
          assert(x.getString(2).endsWith(" UTC") && x.getString(3).endsWith(" UTC"))
        }
        // head/get nesting (head_response.rs:9-17, get_response.rs:9-16):
        // names + StatusCode {code,label} + own response_timings; get rides
        // only downloaded rows and carries the extracted text as body
        if (hasHead) {
          js.filter(c("head").isNotNull)
            .select("original_requested_url", "head.requested_url",
              "head.http_response_code.label", "head.response_timings.name")
            .collect().foreach { x =>
            assert(x.getString(1) == x.getString(0))
            assert(x.getString(2) != null)
            assert(x.getString(3) == s"HEADResponse.${x.getString(0)}")
          }
          // hop-level Redirect parity: StatusCode struct + headers.location
          // + per-hop response_timings named "Redirect.{source}"
          // (fetch_header_command.rs:73-81). Struct inference needs a round
          // holding a real hop (an all-empty array infers degenerate).
          val hopType = js.select(c("head.redirects")).schema.fields.head.dataType
          val hasHopStructs = hopType match {
            case org.apache.spark.sql.types.ArrayType(
              _: org.apache.spark.sql.types.StructType, _) => true
            case _ => false
          }
          if (hasHopStructs) {
            val hops = js.filter(c("head").isNotNull)
              .select(explode(c("head.redirects")).as("h"))
              .select("h.source", "h.headers.location",
                "h.response_timings.name", "h.http_response_code.code")
              .collect()
            hops.foreach { x =>
              assert(x.getString(2) == s"Redirect.${x.getString(0)}")
              assert(x.getString(1) != null, "hop headers must carry location")
              assert(x.getLong(3) >= 300 && x.getLong(3) < 400)
            }
            hopsSeen += hops.length
          }
        }
        if (js.schema.fieldNames.contains("get")) {
          val gets = js.filter(c("get").isNotNull)
            .select("final_url_after_redirects", "get.requested_url",
              "get.body", "get.response_timings.name").collect()
          gets.foreach { x =>
            assert(x.getString(1) == x.getString(0))
            assert(x.getString(3) == s"GETResponse.${x.getString(0)}")
          }
          // parquet cross-check: get exists iff a body was parsed
          assert(gets.length ==
            pq.filter(c("n_links") >= 0).count(), s"round $r get presence")
        }
        // links inventory (link.rs:7-13): full pre-dedup list, so its length
        // is exactly n_links; scoped-out classes (External/Mailto/anchor…)
        // appear here and nowhere downstream
        if (js.schema.fieldNames.contains("links") &&
            js.select(c("links")).schema.fields.head.dataType
              .isInstanceOf[org.apache.spark.sql.types.ArrayType]) {
          val pqLinks = pq.filter(c("n_links") >= 0).select("url", "n_links")
            .collect().map(x => x.getString(0) -> x.getInt(1)).toMap
          js.filter(c("links").isNotNull)
            .select(c("original_requested_url"),
              org.apache.spark.sql.functions.size(c("links")))
            .collect().foreach { x =>
            assert(pqLinks(x.getString(0)) == x.getInt(1),
              s"round $r links length vs n_links for ${x.getString(0)}")
            linksSeen += x.getInt(1)
          }
          scopedOutSeen += js.filter(c("links").isNotNull)
            .select(explode(c("links")).as("l"))
            .filter(c("l.scope").isNull ||
              !c("l.scope").isin("Root", "SameDomain", "DifferentSubDomain"))
            .count()
        }
      }
    }
    assert(hopsSeen > 0, "fixture must export at least one redirect hop")
    assert(linksSeen > 0, "fixture must export at least one link inventory")
    assert(scopedOutSeen > 0,
      "link inventory must include scoped-out classes absent from the frontier")
    assert(fullSchemaSeen, "at least one round must carry every PageResponse field")
  }

  test("maxDepth=0 quirk: unlimited crawlability but only seeds enqueue children") {
    // reference: verify_crawlability passes everything when maximum_depth=0
    // (page_crawl_command.rs:73) but the consume gate `depth <= 0`
    // (page_loader_service.rs:142) only lets depth-0 pages enqueue
    val g = Synth.graph(seed = 42L, hosts = 2, pagesPerHost = 8)
    val cfg = CrawlConfig(maxDepth = 0, hostQuotaPerRound = 8)
    val (job, sim, _) = runBoth(g, cfg, "depth0")
    assert(sparkRows(job.results) == simRows(sim.results))
    assert(job.results.agg(max("depth")).collect()(0).getInt(0) <= 1)
  }

  test("differential parity THROUGH the compaction cadence (persistent, seenCompactEvery=2)") {
    // every other round triggers the full maintenance sweep (seen snapshot,
    // results range fold, frontier/bloom/manifest GC), so the final
    // readResults() view — committed ranges unioned with the tail — is
    // row-compared against the independent sequential oracle, not just
    // against another spark run
    val g = Synth.graph(seed = 909L, hosts = 3, pagesPerHost = 10)
    val cfg = CrawlConfig(maxDepth = 3, hostQuotaPerRound = 3, maxRounds = 12,
      seenCompactEvery = 2)
    val (job, sim, dir) = runBoth(g, cfg, "compact-diff")
    assert(job.rounds > 2, "fixture must cross at least one compaction sweep")
    assert(sparkRows(job.results) == simRows(sim.results))
    val io = new graft.io.TableIO(spark, dir)
    assert(io.resultsCompactionWatermark() >= 0,
      "at least one committed results range must exist")
    val sparkSeen = io.readSeen(job.rounds - 1)
      .select("url").collect().map(_.getString(0)).toSet
    assert(sparkSeen == sim.seen)
  }

  test("zero seeds: empty results and metrics tables, shaped like a populated run") {
    val g = Synth.graph(seed = 42L, hosts = 2, pagesPerHost = 8)
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)
    val cfg = CrawlConfig(maxDepth = 2, hostQuotaPerRound = 3)
    val dir = tempDir("crawl-empty")
    val job = CrawlJob.run(spark, Seq.empty, pagesDf, robotsDf, redirectsDf, cfg, dir)
    assert(job.rounds == 0)
    assert(job.results.count() == 0L && job.metrics.count() == 0L)
    // schema parity with a real run (names, order and types), so downstream
    // code written against a populated crawl works unchanged on an empty
    // one. The populated path drops `round` at write and re-materializes it
    // LAST from the partition dir — the zero-round branch must emit the same
    // order (ADVICE r4)
    val popDir = tempDir("crawl-pop")
    val popJob = CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf,
      CrawlConfig(maxDepth = 1, hostQuotaPerRound = 1, maxRounds = 1), popDir)
    assert(popJob.results.count() > 0 && popJob.metrics.count() > 0)
    for ((empty, populated) <- Seq(job.results -> popJob.results, job.metrics -> popJob.metrics)) {
      assert(empty.columns.toSeq == populated.columns.toSeq)
      assert(empty.schema.map(_.dataType.catalogString) == populated.schema.map(_.dataType.catalogString))
    }
  }
}
