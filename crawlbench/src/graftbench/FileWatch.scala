package graftbench

import java.io.File
import scala.collection.mutable

/** Samples a directory tree every `periodMs` and remembers every data file
  * it ever saw (checksums, hidden and `_temporary` files excluded), so the
  * files a crawl writes are counted even when compaction or GC deletes
  * them later. A file created and deleted between two samples is missed. */
final class FileWatch(root: File, periodMs: Long = 100L) {
  private val seen = mutable.HashSet.empty[String]
  @volatile private var running = true

  private def walk(f: File, rel: String): Unit =
    Option(f.listFiles).foreach(_.foreach { c =>
      val name = c.getName
      if (!name.startsWith(".") && !name.startsWith("_temporary") && !name.endsWith(".crc")) {
        val r = s"$rel/$name"
        if (c.isDirectory) walk(c, r) else seen.synchronized(seen += r)
      }
    })

  private val thread = new Thread(() => {
    while (running) {
      try walk(root, "") catch { case _: Exception => }
      Thread.sleep(periodMs)
    }
  }, "crawlbench-filewatch")
  thread.setDaemon(true)
  thread.start()

  /** Stops sampling (after one last sample) and returns the files seen. */
  def stop(): Int = {
    running = false
    thread.join()
    walk(root, "")
    seen.synchronized(seen.size)
  }
}
