package graft.io

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import graft.SparkTestBase
import graft.crawl.{CrawlJob, SimCrawler}
import graft.model.CrawlConfig
import graft.synth.Synth

/** The engine's own local file system ([[EngineFs]]): it sets the modes
  * Hadoop's own `setPermission` sets, and a persistent round creates every
  * file and dir with Hadoop's default mode while forking no `chmod`. */
class EngineFsSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  private lazy val spark = SparkTestBase.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("setPermission: the mode Hadoop's own call sets, on files and dirs") {
    val root = tempDir("engine-fs-modes")
    def fs(raw: RawLocalFileSystem) = { raw.initialize(java.net.URI.create("file:///"), conf); raw }
    val hadoop = fs(new RawLocalFileSystem)
    val nio = fs(new NioRawLocalFileSystem)
    for (m <- Seq("644", "600", "755", "700", "444", "750", "640", "000")) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      for (dir <- Seq(false, true)) {
        val Seq(a, b) = Seq("hadoop", "nio").map(n => Paths.get(root, s"$n-$m-$dir"))
        Seq(a, b).foreach(p => if (dir) Files.createDirectory(p) else Files.createFile(p))
        hadoop.setPermission(new HPath(a.toUri), perm)
        nio.setPermission(new HPath(b.toUri), perm)
        assert(mode(b) == mode(a), s"mode $m, dir $dir")
        assert(mode(b) == perm.toString, s"mode $m, dir $dir")
        // let the suite's cleanup walk and delete it
        Seq(a, b).foreach(p => Files.setPosixFilePermissions(p,
          PosixFilePermissions.fromString("rwx------")))
      }
    }
  }

  /** One persistent round, with the `jdk.ProcessStart` events it caused:
    * the round writes every kind of state file — the round state, the
    * JSONL export, both filters, the manifest — and runs compaction and
    * GC. */
  private lazy val round = {
    val g = SimCrawler.deepCrawlWeb(2)
    val (pagesDf, robotsDf, redirectsDf) = Synth.toDfs(spark, g)
    val root = tempDir("engine-fs-round")
    val state = s"$root/state"
    val cfg = CrawlConfig(hostQuotaPerRound = 1, useCuckooFrontier = true,
      seenCompactEvery = 1, exportJsonl = true, maxRounds = 1, runId = "engine-fs")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val job = try CrawlJob.run(spark, g.seeds, pagesDf, robotsDf, redirectsDf, cfg, state)
      finally rec.stop()
    assert(job.rounds == 1)
    val jfr = Paths.get(root, "process-start.jfr")
    rec.dump(jfr)
    rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command")).toSeq
    (state, commands)
  }

  test("one persistent round: every file and dir has Hadoop's default mode") {
    val (state, _) = round
    val umask = FsPermission.getUMask(conf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toString
    if (umask.toShort == Integer.parseInt("022", 8))
      assert(fileMode == "rw-r--r--" && dirMode == "rwxr-xr-x")
    val paths = Files.walk(Paths.get(state))
    val entries = try paths.iterator().asScala.toList finally paths.close()
    assert(entries.count(Files.isRegularFile(_)) > 20)
    entries.foreach(p => assert(mode(p) == (if (Files.isDirectory(p)) dirMode else fileMode), p))
  }

  test("one persistent round forks no chmod") {
    val (state, commands) = round
    val chmods = commands.filter(c => c.contains("chmod") && c.contains(state))
    assert(chmods.size == 0, s"chmod forks, e.g. ${chmods.take(3)}")
  }
}
