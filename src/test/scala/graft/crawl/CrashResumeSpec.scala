package graft.crawl

import java.util.EnumSet
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.io.TableIO
import graft.model.CrawlConfig

/** The local file system under the `crashfs` scheme, failing once: the
  * first create, delete or rename whose (op, absolute path) the armed
  * predicate accepts throws instead of running. Crashes are injected from
  * the test side only, at any write point of the crawl loop. */
class CrashFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = CrashFs.Uri
  override def getScheme: String = CrashFs.Uri.getScheme

  private def check(op: String, p: HPath): Unit = CrashFs.fire(op, makeQualified(p).toUri.getPath)

  override def create(f: HPath, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    check("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: HPath, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    check("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: HPath, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def delete(p: HPath, recursive: Boolean): Boolean = {
    check("delete", p)
    super.delete(p, recursive)
  }
  override def rename(src: HPath, dst: HPath): Boolean = {
    check("rename", src)
    super.rename(src, dst)
  }
}

object CrashFs {
  val Uri = new java.net.URI("crashfs:///")
  private var armed: Option[(String, String) => Boolean] = None

  def arm(at: (String, String) => Boolean): Unit = synchronized { armed = Some(at) }
  def disarm(): Unit = synchronized { armed = None }

  private def fire(op: String, path: String): Unit = synchronized {
    if (armed.exists(_(op, path))) {
      armed = None
      throw new java.io.IOException(s"injected crash: $op $path")
    }
  }
}

/** Crash-point resume matrix over the benchmark's deep-crawl shape in
  * miniature (2 hosts, chains of 2, quota 1, cuckoo on, compaction and GC
  * every round, JSONL export on): a crash at every write point of round 1 —
  * each kind of the round's one state write, the export, each filter write
  * and inventory, the commit manifest, each compaction and GC step, the
  * metrics fold — and in round 2's GC of the superseded metrics fold, and
  * lost filter files between rounds. After
  * every one, a resume must equal the uninterrupted run: rows, the
  * `orderedResults` order, the final seen set, the JSONL export and the
  * metrics table. */
class CrashResumeSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  private lazy val spark = {
    val s = SparkTestBase.spark
    s.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    s
  }

  private val g = SimCrawler.deepCrawlWeb(2)
  private val cfg = CrawlConfig(hostQuotaPerRound = 1, useCuckooFrontier = true,
    seenCompactEvery = 1, exportJsonl = true, runId = "crash-matrix")

  private def crawl(root: String, resume: Boolean, maxRounds: Int = cfg.maxRounds) = {
    val (pagesDf, robotsDf, redirectsDf) = graft.synth.Synth.toDfs(spark, g)
    CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf,
      cfg.copy(maxRounds = maxRounds), s"crashfs://$root", resume)
  }

  private def newRoot(tag: String): String =
    tempDir(s"crash-$tag")

  private def outcome(root: String, job: CrawlJob.JobResult): CrashResumeSpec.Outcome = {
    def strings(df: DataFrame) = df.collect().map(_.toString).toSeq
    val io = new TableIO(spark, s"crashfs://$root")
    CrashResumeSpec.Outcome(
      strings(job.results.select(col("round"), col("depth"), hex(col("priority")), col("url"),
        col("host"), col("crawl_status"), col("final_url"), col("http_code"), col("n_links"),
        col("text"), col("fetch_start_ms"), col("fetch_end_ms"), col("run_id"))).sorted,
      strings(CrawlJob.orderedResults(job.results).orderBy("schedule_rank")
        .select(col("schedule_rank"), col("url"))),
      strings(io.readSeen(job.rounds - 1).select("url")).sorted,
      strings(spark.read.text(s"crashfs://$root/results_jsonl")).sorted,
      strings(job.metrics).sorted)
  }

  private lazy val reference = {
    val root = newRoot("reference")
    val job = crawl(root, resume = false)
    assert(job.rounds == 3)
    outcome(root, job)
  }

  /** The state after round 0, committed once for every case. */
  private lazy val round0: String = {
    val root = newRoot("round0")
    assert(crawl(root, resume = false, maxRounds = 1).rounds == 1)
    root
  }

  /** A copy of the round-0 state under a new root. Inventories reference
    * files by absolute path, so the copy's are rewritten to its own. */
  private def copyOfRound0(tag: String): String = {
    import java.nio.file.{Files, Paths}
    val root = newRoot(tag)
    val src = Paths.get(round0)
    Files.walk(src).forEach { p =>
      val dst = Paths.get(root).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else if (p.getFileName.toString == FilterInventory.FileName)
        Files.writeString(dst, Files.readString(p).replace(round0, root))
      else Files.copy(p, dst)
    }
    root
  }

  /** Resume the round-0 state and crash it in `round` at the first `op` on
    * `rel` (below the state root; a trailing `/` also matches anything
    * under it) whose path contains `within`, then resume to the end. */
  private def crashAt(point: String, op: String, rel: String, within: String = "",
      round: Int = 1): Unit =
    test(s"crash at $point, then resume: equals the uninterrupted run") {
      val want = reference
      val root = copyOfRound0(point.replaceAll("\\W+", "-"))
      val target = s"$root/$rel"
      CrashFs.arm((o, p) => o == op && p.contains(within) && (p == target.stripSuffix("/") ||
        rel.endsWith("/") && p.startsWith(target)))
      val e = try intercept[Exception](crawl(root, resume = true)) finally CrashFs.disarm()
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => Option(x.getMessage).exists(_.contains("injected crash"))), e)
      assert(new TableIO(spark, s"crashfs://$root").lastCommittedRound() <= round)
      assert(outcome(root, crawl(root, resume = true)) == want)
    }

  // the round's write points, in write order; the one round-state write
  // creates a file in each kind's partition
  crashAt("results", "create", "rounds/round=1/", within = "/kind=r/")
  crashAt("seen", "create", "rounds/round=1/", within = "/kind=s/")
  crashAt("frontier", "create", "rounds/round=1/", within = "/kind=f/")
  crashAt("the JSONL export", "create", "results_jsonl/round=1/")
  crashAt("the bloom files", "create", "blooms/round=1/")
  crashAt("the bloom inventory", "create", "blooms/round=1/_inventory.tmp")
  crashAt("the cuckoo files", "create", "cuckoo/round=1/")
  crashAt("the cuckoo inventory", "create", "cuckoo/round=1/_inventory.tmp")
  crashAt("the manifest", "create", "manifest/round=1.json.tmp")
  // compaction and GC after the round-1 commit
  crashAt("seen compaction", "create", "seen_compacted/upto=1/")
  crashAt("the folded seen slice GC", "delete", "rounds/round=1/kind=s")
  crashAt("the old seen snapshot GC", "delete", "seen_compacted/upto=0")
  crashAt("results compaction", "create", "results_compacted/range=1-1/")
  crashAt("the folded results GC", "delete", "rounds/round=1/kind=r")
  crashAt("the frontier GC", "delete", "rounds/round=0")
  crashAt("the bloom GC", "delete", "blooms/round=0/")
  crashAt("the cuckoo GC", "delete", "cuckoo/round=0/")
  crashAt("metrics compaction", "create", "manifest/metrics_below=1.jsonl.tmp")
  crashAt("the manifest GC", "delete", "manifest/round=0.json")
  // round 2's GC deletes the metrics fold that its own fold supersedes
  crashAt("the folded metrics GC", "delete", "manifest/metrics_below=1.jsonl", round = 2)

  test("lost bloom and cuckoo files between rounds: resume equals the uninterrupted run") {
    val want = reference
    val root = copyOfRound0("lost")
    assert(crawl(root, resume = true, maxRounds = 2).rounds == 2)
    val conf = spark.sparkContext.hadoopConfiguration
    val io = new TableIO(spark, s"crashfs://$root")
    for (dir <- Seq(io.bloomsDir(1), io.cuckooDir(1))) {
      val lost = new HPath(FilterInventory.read(dir, conf).get.values.min)
      assert(lost.getFileSystem(conf).delete(lost, false), s"$lost")
    }
    assert(outcome(root, crawl(root, resume = true)) == want)
  }
}

object CrashResumeSpec {
  final case class Outcome(rows: Seq[String], order: Seq[String], seen: Seq[String],
      jsonl: Seq[String], metrics: Seq[String])
}
