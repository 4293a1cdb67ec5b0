package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic main: times the q_crawl_e2e flagship in isolation (total
  * seconds per pass, printed to stderr). Not part of the driver contract —
  * a tuning tool.
  *
  * With SPARK_GRAFT_E2E_AB=1 it instead runs an interleaved A/B over the
  * loop's session-conf variants (shuffle partitions × AQE), reporting the
  * MIN of K reps per variant: host weather on the sandbox VM swings
  * identical runs several-fold over minutes, so only interleaved minimums
  * are comparable. Variants drive [[graft.crawl.CrawlJob.runInMemory]]
  * directly on the same fixture q_crawl_e2e uses.
  */
object E2EProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.contains("SPARK_GRAFT_E2E_AB")) ab(spark)
    else (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val n = queries.Queries.crawlE2E(spark,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")).count()
      System.err.println(f"E2ETOTAL pass=$i rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    spark.stop()
  }

  private def ab(spark: SparkSession): Unit = {
    val g = graft.synth.Synth.graph(42L, hosts = 3, pagesPerHost = 10)
    val (pages, robots, redirects) = graft.synth.Synth.toDfs(spark, g)
    val cfg = graft.model.CrawlConfig(maxDepth = 3, hostQuotaPerRound = 4,
      maxRounds = 12, useBloomSeen = false)
    // (parts, aqe) variants; codegen/constraint-prop always off as in
    // crawlE2E
    val variants = Seq(("4", "true"), ("1", "true"), ("4", "false"), ("1", "false"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_E2E_AB_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_E2E_AB_REPS must be >= 1 (got $reps): " +
      "the summary needs at least one timed rep per variant")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    val times = scala.collection.mutable.Map.empty[(String, String), List[Double]]
      .withDefaultValue(Nil)
    // one untimed warm-up, then interleaved reps (adjacent runs share
    // host weather, so per-rep cross-variant comparisons stay honest)
    for (rep <- 0 to reps; v <- variants) {
      spark.conf.set("spark.sql.shuffle.partitions", v._1)
      spark.conf.set("spark.sql.adaptive.enabled", v._2)
      val t0 = System.nanoTime()
      val n = graft.crawl.CrawlJob.runInMemory(spark, g.seeds, pages, robots,
        redirects, cfg).count()
      val sec = (System.nanoTime() - t0) / 1e9
      require(n == 27, s"wrong row count $n for variant $v")
      if (rep > 0) times(v) = sec :: times(v)
      System.err.println(f"E2EAB rep=$rep parts=${v._1} aqe=${v._2} sec=$sec%.2f")
    }
    variants.foreach { v =>
      val t = times(v)
      System.err.println(f"E2EAB_SUMMARY parts=${v._1} aqe=${v._2} " +
        // lower middle on an even count — same conservative convention as
        // Bench's median-pair selection
        f"min=${t.min}%.2f median=${t.sorted.apply((t.size - 1) / 2)}%.2f")
    }
  }
}
