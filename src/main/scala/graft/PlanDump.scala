package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Writes PLANS.md: the formatted physical plans of the engine's load-bearing
  * operators, with the properties each plan must exhibit at 100 TB called
  * out (filter/column pushdown into the parquet scan, broadcast vs
  * shuffle join selection, whole-stage codegen spans, AQE). Run:
  * `sbt -batch "runMain graft.PlanDump"`. */
object PlanDump {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = new StringBuilder
    out ++= "# PLANS — physical-plan evidence (generated by graft.PlanDump)\n\n"
    out ++= s"Source tables: `$sfDir`. Regenerate: `sbt -batch \"runMain graft.PlanDump\"`.\n"

    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def dump(title: String, want: String, df: org.apache.spark.sql.DataFrame): Unit = {
      out ++= s"\n## $title\n\n$want\n\n```\n"
      out ++= df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExtendedMode).take(6000)
      out ++= "\n```\n"
    }

    /** Formatted (physical-tree-first) variant for plans whose embedded
      * literals (e.g. 16×64 centroid arrays) would flood the extended dump
      * before the physical plan appears. */
    def dumpFormatted(title: String, want: String, df: org.apache.spark.sql.DataFrame): Unit = {
      out ++= s"\n## $title\n\n$want\n\n```\n"
      out ++= df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).take(6000)
      out ++= "\n```\n"
    }

    // 1. filter + projection pushdown on the documents scan
    dump("Filter/column pushdown (documents scan)",
      "Want: `PushedFilters` carries the lang equality; `ReadSchema` has only " +
        "doc_id/text plus the filter column itself (lang) — never the full row.",
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("lang") === "en").select("doc_id", "text"))

    // 2. the seen anti-join
    dump("URL-seen anti-join (J2)",
      "Want: LeftAnti join; with AQE, broadcast when the seen side is small; " +
        "pushdown of the o_totalprice filter into the orders scan.",
      queries.Queries.seenAntijoin(spark, sfDir))

    // 3. per-host politeness top-k (mega-host-salted flagged plan)
    dumpFormatted("Politeness scheduler (A1–A3, salted two-phase top-k)",
      "Want: the mega-host flag as a BROADCAST semi/anti join on host (never " +
        "a driver collect or an isin literal in the plan); phase-1 Window " +
        "partitioned by (host, __salt), phase-2 Window over only the rn1<=k " +
        "survivors, deferred branch NEVER re-sorted; no persist in the plan " +
        "(single-pass flagged design); whole-stage codegen around the filters.",
      queries.Queries.scheduleTopK(spark, sfDir))

    // 4. codegen vector expression in the cosine top-k
    dump("ANN brute-force cosine (codegen FloatVecDot)",
      "Want: float_vec_dot inside a WholeStageCodegen span (no CodegenFallback), " +
        "norms computed once per side before the join.",
      queries.Queries.embedTop1(spark, sfDir))

    // 5. inverted-index n-gram jaccard
    dump("n-gram Jaccard (inverted-index join)",
      "Want: join keyed on (source, gram) — no cross join; partial aggregation " +
        "(HashAggregate) before the exchange on both count paths.",
      queries.Queries.ngramJaccard(spark, sfDir))

    // 6. IVF ANN top-k (cell-keyed candidate join)
    dumpFormatted("ANN IVF top-k (cell assignment + nprobe candidate join)",
      "Want: cell assignment a single Project over the scan (greatest over " +
        "packed structs — no join/explode for assignment); the candidate " +
        "join keyed on `cell` (hash or broadcast on cell, never a cross " +
        "join); the probe explode multiplies only the query side.",
      queries.Queries.ivfTop1(spark, sfDir))

    // 7. one crawl round over synthesized fixtures
    val g = synth.Synth.graph(42L, 3, 10)
    val (pages, robots, redirects) = synth.Synth.toDfs(spark, g)
    val cfg = model.CrawlConfig(maxDepth = 3, hostQuotaPerRound = 4, useBloomSeen = false)
    val robotsCache = crawl.FrontierRound.buildRobotsCache(robots)
    val resolved = crawl.FrontierRound.resolveRedirects(spark, redirects, cfg)
    val frontier = crawl.CrawlJob.seedFrontier(spark, g.seeds)
    import spark.implicits._
    val seen = spark.emptyDataset[String].toDF("url")
    val round = crawl.FrontierRound.run(spark, 0, frontier, seen, pages, robotsCache, resolved, cfg)
    dump("One crawl round (results output)",
      "Want: broadcast of the robots cache; the pages `html` column read only in " +
        "the extraction branch (column pruning elsewhere); the gates as columns " +
        "of one linear plan over the checkpointed schedule and round leaves.",
      round.results)
    round.release()

    // 8. corpus ops: boilerplate-line removal, hash split, pii scrub
    // formatted (physical-tree-first): the extended dump's analyzed/optimized
    // sections flood the 6000-char budget with the collect_list lambda before
    // the physical exchanges appear — the r4 dump truncated exactly there and
    // recorded no evidence for the shuffle-count claim
    dumpFormatted("Boilerplate line removal (corpus-frequency line dedup)",
      "Want: the boilerplate set arrives via a BROADCAST hash join (bounded " +
        "by total_lines/K, small by construction); partial HashAggregate " +
        "before each exchange; exactly THREE exchanges — two for the " +
        "distinct-doc line count (partial dedup on (line, doc_id), count on " +
        "line: countDistinct has no single-shuffle exact plan), one for the " +
        "per-doc reassembly — the membership test adds none.",
      pipeline.CorpusOps.removeBoilerplateLines(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text"), 3))
    dump("Deterministic hash split (train/val/test)",
      "Want: a single Project over the scan — no exchange anywhere " +
        "(map-only, embarrassingly parallel at any scale).",
      pipeline.CorpusOps.hashSplit(
        spark.read.parquet(s"$sfDir/documents.parquet")))
    dump("PII scrub (emails/phones/IPv4)",
      "Want: a single Project of codegen'd regexp_replace/regexp_count over " +
        "the scan — no UDF, no exchange.",
      pipeline.CorpusOps.scrubPii(
        spark.read.parquet(s"$sfDir/documents.parquet")))

    // 9. partition-local seen-Bloom probe (the 10^10 scale path, r5):
    // the broadcast is a constant-size FILE HANDLE — no filter bytes ride
    // the driver or the plan
    val bloomDir = Files.createTempDirectory("plandump_blooms").toString
    val seenUrls = frontier.select(col("url")) // any url set works as seen
    crawl.SeenFilter.writeMergedBlooms(seenUrls, buckets = 8,
      expectedPerBucket = 1024L, prevDir = None, outDir = bloomDir)
    val fileProbe = crawl.SeenFilter.broadcastFileBlooms(spark, 8, bloomDir)
    dumpFormatted("URL-seen Bloom probe, file-backed (J2 at the 10^10 design point)",
      "Want: the probe Filter ABOVE the bucket Exchange (the probe UDF is " +
        "fenced nondeterministic — a pushed-down probe would run on raw scan " +
        "partitions where every task churns arbitrary bucket files through " +
        "the bounded executor cache); the definitely-new branch map-only " +
        "after the probe (no join); only bloom-positives reach the exact " +
        "LeftAnti join; the broadcast is the O(100 B) FileProbe handle — NO " +
        "filter bytes in the plan, the driver, or the broadcast, regardless " +
        "of seen-set size. The static dump below shows the Exchange twice " +
        "(once per union branch) — at runtime AQE stage-reuse replaces the " +
        "second with a ReusedExchange, so candidates scan+shuffle exactly " +
        "once (verified on the executed plan: isFinalPlan=true shows " +
        "`ReusedExchange [url], Exchange hashpartitioning(pmod(xxhash64(url)...`).",
      crawl.SeenFilter.bloomAntiJoin(
        spark.read.parquet(s"$sfDir/events.parquet")
          .select(concat(lit("https://host"), pmod(col("event_id"), lit(50L)),
            lit(".test/p/"), col("event_id")).as("url")),
        seenUrls, fileProbe))

    // 10. frontier cuckoo probe (the deletable "Bloom/cuckoo" half, r5):
    // same two-lane plan as the seen-Bloom — the probe handle is the same
    // FileProbe directory reference over the cuckoo codec, and the filter
    // files it points at were maintained by O(delta) insert/delete updates
    val ckDir = Files.createTempDirectory("plandump_cuckoo").toString
    crawl.FrontierFilter.writeFromUrls(seenUrls, buckets = 8,
      expectedPerBucket = 1024L, outDir = ckDir)
    val ckProbe = crawl.FrontierFilter.broadcastFileCuckoos(spark, 8, ckDir)
    dumpFormatted("Frontier cuckoo probe, file-backed (F3/J1 still-queued gate at 10^10)",
      "Want: structurally IDENTICAL to the seen-Bloom probe plan above — " +
        "same fenced probe Filter above the bucket Exchange, same map-only " +
        "definitely-new branch, same O(100 B) broadcast handle (FileProbe) " +
        "— because it is the same probe class over the cuckoo codec. The " +
        "difference is off-plan: the cuckoo bucket files support DELETION, so the " +
        "non-monotone frontier is maintained with O(delta)/round updates " +
        "instead of the O(|frontier|) rebuild a Bloom would force.",
      crawl.SeenFilter.bloomAntiJoin(
        spark.read.parquet(s"$sfDir/events.parquet")
          .select(concat(lit("https://host"), pmod(col("event_id"), lit(50L)),
            lit(".test/p/"), col("event_id")).as("url")),
        seenUrls, ckProbe))

    Files.writeString(Paths.get("PLANS.md"), out.toString)
    println(s"PLANS.md written: ${out.length} chars")
    spark.stop()
  }
}
