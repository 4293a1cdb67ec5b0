package graft.crawl

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.io.TableIO
import graft.model.CrawlConfig
import graft.synth.Synth

/** `CrawlJob.InterpretRoundsUpTo`: a round run without generated code
  * gives exactly what a compiled round gives (rows, order, seen set,
  * manifests, filter files), compiles nothing once warm, and leaves the
  * caller's codegen settings as it found them, on success and on a crash. */
class InterpretedRoundSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  private lazy val spark = {
    val s = SparkTestBase.spark
    s.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    s
  }

  private val Interpreted = Long.MaxValue
  private val Compiled = 0L
  private val CodegenConfs = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")

  private val deepWeb = SimCrawler.deepCrawlWeb(2)
  private val deepCfg = CrawlConfig(hostQuotaPerRound = 1, useCuckooFrontier = true,
    seenCompactEvery = 1, runId = "interpreted-deep")

  /** A fresh crawl with the interpreted-round gate at `gate`. */
  private def crawl(g: Synth.Graph, cfg: CrawlConfig, root: String, gate: Long) = {
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)
    CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf, cfg, root,
      resume = false, gate)
  }

  /** Every file under `root/sub` but the `.crc` sidecars, by relative
    * path: its bytes, with the state root cut out of the inventories'
    * absolute paths (a sidecar checksums the uncut text). */
  private def tree(root: String, sub: String): Map[String, String] = {
    val base = Paths.get(root)
    val dir = base.resolve(sub)
    if (!Files.exists(dir)) Map.empty
    else {
      val paths = Files.walk(dir)
      try paths.filter(p => Files.isRegularFile(p) && !p.toString.endsWith(".crc"))
        .toArray.toSeq.map(_.asInstanceOf[Path]).map { p =>
        val bytes = Files.readAllBytes(p)
        base.relativize(p).toString -> (
          if (p.getFileName.toString == FilterInventory.FileName)
            new String(bytes, "UTF-8").replace(root, "<root>")
          else java.util.Base64.getEncoder.encodeToString(bytes))
      }.toMap
      finally paths.close()
    }
  }

  private def outcome(root: String, job: CrawlJob.JobResult): InterpretedRoundSpec.Outcome = {
    def strings(df: DataFrame) = df.collect().map(_.toString).toSeq
    InterpretedRoundSpec.Outcome(
      strings(job.results.withColumn("priority", hex(col("priority")))).sorted,
      strings(CrawlJob.orderedResults(job.results).orderBy("schedule_rank")
        .select(col("schedule_rank"), col("url"))),
      strings(new TableIO(spark, root).readSeen(job.rounds - 1).select("url")).sorted,
      strings(job.metrics).sorted,
      tree(root, "manifest"), tree(root, "blooms"), tree(root, "cuckoo"))
  }

  private def parity(name: String, g: Synth.Graph, cfg: CrawlConfig, minRounds: Int): Unit =
    test(s"parity, $name: interpreted rounds equal compiled rounds") {
      val outcomes = Seq(Interpreted, Compiled).map { gate =>
        val root = tempDir(s"interpreted-$gate")
        val job = crawl(g, cfg, root, gate)
        assert(job.rounds >= minRounds)
        outcome(root, job)
      }
      assert(outcomes.head.rows.nonEmpty)
      assert(outcomes.head.blooms.nonEmpty)
      assert(outcomes(0) == outcomes(1))
    }

  parity("deep-crawl web, cuckoo on, quota 1, compaction every round", deepWeb, deepCfg, 3)
  // no runId: the derived one must not depend on the gate either
  parity("a synthetic web with redirects and robots", Synth.graph(seed = 7L, hosts = 5,
    pagesPerHost = 15), CrawlConfig(maxDepth = 3, seenCompactEvery = 2), 3)

  test("compile pin: a warm interpreted crawl compiles nothing, a compiled one does") {
    def compiles(gate: Long): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(crawl(deepWeb, deepCfg, tempDir("pin"), gate).rounds == 3)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiles(Interpreted) // warm: the pre-loop plans compile once
    assert(compiles(Interpreted) == 0)
    assert(compiles(Compiled) > 0)
  }

  private def callerConfs = CodegenConfs.map(spark.conf.getAll.get)

  /** Runs `body` with the codegen confs set as in `caller` (None = unset),
    * then puts back what was there before. */
  private def asCaller(caller: Seq[Option[String]])(body: => Unit): Unit = {
    val saved = callerConfs
    def put(vs: Seq[Option[String]]): Unit = CodegenConfs.zip(vs).foreach {
      case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    try { put(caller); body } finally put(saved)
  }

  for ((label, caller) <- Seq(
      "unset" -> Seq(None, None),
      "set" -> Seq(Some("true"), Some("FALLBACK")))) {
    test(s"restore: the caller's codegen confs ($label) survive a run and a crashed run") {
      asCaller(caller) {
        assert(crawl(deepWeb, deepCfg, tempDir("restore"), Interpreted).rounds == 3)
        assert(callerConfs == caller)
        val root = s"crashfs://${tempDir("restore-crash")}"
        CrashFs.arm((op, p) => op == "create" && p.contains("/rounds/round=1/"))
        val e = try intercept[Exception](crawl(deepWeb, deepCfg, root, Interpreted))
        finally CrashFs.disarm()
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(x => Option(x.getMessage).exists(_.contains("injected crash"))), e)
        assert(new TableIO(spark, root).lastCommittedRound() == 0)
        assert(callerConfs == caller)
      }
    }
  }
}

object InterpretedRoundSpec {
  final case class Outcome(rows: Seq[String], order: Seq[String], seen: Seq[String],
      metrics: Seq[String], manifests: Map[String, String], blooms: Map[String, String],
      cuckoos: Map[String, String])
}
