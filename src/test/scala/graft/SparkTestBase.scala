package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for specs (one JVM-wide, forked by sbt). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Temp dirs owned by a suite: [[tempDir]] creates one, and every one is
    * deleted, contents included, after the suite's last test. */
  trait TempDirs extends BeforeAndAfterAll { this: Suite =>
    private val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]

    def tempDir(prefix: String): String = dirs.synchronized {
      val d = Files.createTempDirectory(prefix)
      dirs += d
      d.toString
    }

    override def afterAll(): Unit =
      try super.afterAll()
      finally dirs.synchronized {
        dirs.foreach { d =>
          if (Files.exists(d)) {
            val paths = Files.walk(d)
            try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
            finally paths.close()
          }
        }
        dirs.clear()
      }
  }
}
