package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Throwaway tuning probe (round-6): times isolated sub-plans of the slow
  * queries under the Bench part-1 session shape, interleaved, best-of-K.
  * Not part of the driver contract. */
object ScratchProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1L << 20).selectExpr("sum(id)").collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.limit(1000).collect()

    import graft.pipeline.DedupOps

    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // the r5 shingle expression: split(text) INLINE in the transform lambda
    val oldShingles = array_distinct(expr(
      """CASE WHEN size(split(text, ' ')) >= 3
        |THEN transform(sequence(1, size(split(text, ' ')) - 2),
        |     i -> concat_ws(' ', slice(split(text, ' '), i, 3)))
        |ELSE array() END""".stripMargin))

    val variants: Seq[(String, () => DataFrame)] = Seq(
      "explode_old" -> (() => graft.util.Spread.upTo(
          docs.select(col("doc_id"), col("text"), col("source")))
        .select(col("doc_id"), col("source"), explode(oldShingles).as("gram"))),
      "sizes_old" -> (() =>
        docs.select(col("doc_id"), size(oldShingles).as("sz"))),
      "explode_only" -> (() => graft.util.Spread.upTo(
          docs.select(col("doc_id"), col("text"), col("source")))
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("__toks"))
        .select(col("doc_id"), col("source"),
          explode(DedupOps.shinglesOf(col("__toks"), 3)).as("gram"))),
      "sizes_only" -> (() =>
        docs.select(col("doc_id"), split(col("text"), " ").as("__toks"))
          .select(col("doc_id"), size(DedupOps.shinglesOf(col("__toks"), 3)).as("sz"))),
      "full" -> (() => DedupOps.ngramJaccardPairs(docs, 3, 0.0)
        .orderBy(col("a"), col("b"))),
      "toks_agg" -> (() => DedupOps.docTokens(docs).groupBy("doc_id")
        .agg(collect_set(col("tok")).as("toks"))),
      "minhash_sig" -> (() => DedupOps.minhash(docs, 4)),
      "mlsh_spread" -> (() => DedupOps.minhashLshBuckets(docs, 4, 2)
        .orderBy(col("band"), col("band_sig"))),
      "mlsh_nospread" -> (() => {
        // docTokens without the Spread repartition (the r5 shape)
        val toks = docs.select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
        val aggs = (0 until 4).map(i =>
          min(md5(concat(lit(s"$i:"), col("tok")))).as(s"mh$i"))
        val sig = toks.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
        val bandSigs = Seq(concat_ws("|", col("mh0"), col("mh1")),
          concat_ws("|", col("mh2"), col("mh3")))
        sig.select(col("doc_id"),
            posexplode(array(bandSigs: _*)).as(Seq("band", "band_sig")))
          .groupBy(col("band"), col("band_sig"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .orderBy(col("band"), col("band_sig"))
      }),
      "simhash_old" -> (() => {
        val bitCols = (0 until 64).map { b =>
          val d = b / 4 + 1
          val p = 8 >> (b % 4)
          val v = expr(s"instr('0123456789abcdef', substr(h, $d, 1)) - 1")
          val bit = (floor(v / p.toDouble).cast("int") % 2)
          sum(bit * 2 - 1).as(s"s$b")
        }
        val sums = DedupOps.docTokens(docs).withColumn("h", md5(col("tok")))
          .groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
        val bits = (0 until 64).map(b => when(col(s"s$b") >= 0, lit("1")).otherwise(lit("0")))
        sums.select(col("doc_id"), concat(bits: _*).as("simhash_bits"))
      }),
      "simhash_new" -> (() => DedupOps.simhash(docs)),
      "lshb_old" -> (() => {
        val ps = graft.pipeline.SimOps.planes(42L, 8, 64)
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val bucket = (0 until 8).map { p =>
          val plane = array(ps(p).map(lit): _*)
          when(graft.pipeline.SimOps.dot(col("embedding"), plane) >= 0,
            lit(1L << p)).otherwise(lit(0L))
        }.reduce(_ + _)
        emb.withColumn("bucket", bucket).groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_vectors"))
      }),
      "lshb_new" -> (() => {
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        graft.pipeline.SimOps.lshBucket(emb, 42L, 8, 64).groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_vectors"))
      }),
      "nd_sigckpt" -> (() => DedupOps.minhash(docs, 4).localCheckpoint(true)),
      "nd_joinonly" -> (() => {
        val sig = DedupOps.minhash(docs, 4).localCheckpoint(true)
        val bandSigs = Seq(concat_ws("|", col("mh0"), col("mh1")),
          concat_ws("|", col("mh2"), col("mh3")))
        val bands = sig.select(col("doc_id"),
          posexplode(array(bandSigs: _*)).as(Seq("band", "band_sig")))
        bands.as("x").join(bands.as("y"),
            col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      }),
      "nd_cand" -> (() => {
        val sig = DedupOps.minhash(docs, 4).localCheckpoint(true)
        val bandSigs = Seq(concat_ws("|", col("mh0"), col("mh1")),
          concat_ws("|", col("mh2"), col("mh3")))
        val bands = sig.select(col("doc_id"),
          posexplode(array(bandSigs: _*)).as(Seq("band", "band_sig")))
        bands.as("x").join(bands.as("y"),
            col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
      }),
      "nd_full" -> (() => DedupOps.minhashNearDups(docs, 4, 2, 0.7,
        maxBucketSize = 4096))
    )
    if (sys.env.contains("SPARK_GRAFT_E2E_JOBS")) {
      // count jobs/stages/tasks of one flagship run to attribute the
      // per-round action time (dispatch floor vs real work)
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val stages = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      val stageMs = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks)
          for (a <- s.stageInfo.submissionTime; b <- s.stageInfo.completionTime)
            stageMs.addAndGet(b - a)
        }
      })
      val t0 = System.nanoTime()
      val n = queries.Queries.crawlE2E(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"E2EJOBS rows=$n sec=$sec%.2f jobs=${jobs.get} " +
        f"stages=${stages.get} tasks=${tasks.get} stage_wall_ms=${stageMs.get}")
      spark.stop(); return
    }
    if (sys.env.contains("SPARK_GRAFT_CLOSURE_AB")) {
      // A/B the redirect-closure build under the exact crawlE2E session conf
      val g = graft.synth.Synth.graph(42L, hosts = 3, pagesPerHost = 10)
      val (_, _, redirects) = graft.synth.Synth.toDfs(spark, g)
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      val cfgB = graft.model.CrawlConfig(maxDepth = 3, hostQuotaPerRound = 4)
      val cfgS = cfgB.copy(redirectBroadcastMaxRows = 0L) // force shuffle joins
      val t = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
      for (rep <- 1 to reps; (name, c) <- Seq("bcast" -> cfgB, "shuffle" -> cfgS)) {
        val t0 = System.nanoTime()
        val res = graft.crawl.FrontierRound.resolveRedirects(spark, redirects, c)
        val s = (System.nanoTime() - t0) / 1e9
        graft.crawl.FrontierRound.release(res)
        t(name) = s :: t(name)
        System.err.println(f"CLOSURE rep=$rep $name%-8s $s%7.3f")
      }
      Seq("bcast", "shuffle").foreach(n => System.err.println(
        f"CLOSURE_BEST $n%-8s ${t(n).min}%7.3f raw=" +
          t(n).reverse.map(x => f"$x%.3f").mkString("[", ",", "]")))
      spark.stop(); return
    }
    if (sys.env.contains("SPARK_GRAFT_COUNTS")) {
      variants.foreach { case (name, fn) =>
        System.err.println(s"SCRATCH_COUNT $name = ${fn().count()}")
      }
      spark.stop(); return
    }
    val times = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    for (rep <- 1 to reps; (name, fn) <- variants) {
      spark.sparkContext.setJobDescription(s"scratch:$name")
      val t0 = System.nanoTime()
      noop(fn())
      val s = (System.nanoTime() - t0) / 1e9
      times(name) = s :: times(name)
      System.err.println(f"SCRATCH rep=$rep $name%-14s $s%7.3f")
    }
    variants.foreach { case (n, _) =>
      System.err.println(f"SCRATCH_BEST $n%-14s ${times(n).min}%7.3f raw=" +
        times(n).reverse.map(t => f"$t%.3f").mkString("[", ",", "]"))
    }
    spark.stop()
  }
}
