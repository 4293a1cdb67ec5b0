package graftbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter
import graft.canon.{LinkExtract, UrlCanon}
import graft.crawl.{CuckooFilter, FilterInventory}
import graft.model.{Page, RobotsRow}
import graft.robots.Robots

/** Single-thread calls into the public kernel functions over a workload's
  * own pages and urls, and probes of the committed filter files. */
object Kernels {
  /** Spark's `xxhash64(url)` (seed 42), as the crawl computes it. */
  def urlHash(url: String): Long = XXH64.hashUTF8String(UTF8String.fromString(url), 42L)

  private def bucketOf(h: Long, buckets: Int): Int = (((h % buckets) + buckets) % buckets).toInt

  /** Runs `batch` until at least `minSeconds` have passed; returns
    * (items processed, seconds). One warm-up batch runs first. */
  private def rate(minSeconds: Double)(batch: => Long): (Long, Double) = {
    batch
    var n = 0L
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < minSeconds) { n += batch; el = (System.nanoTime() - t0) / 1e9 }
    (n, el)
  }

  final case class KernelRun(name: String, items: Long, seconds: Double, perSecond: Double,
      start: Long, end: Long)

  private def run(name: String, minSeconds: Double, unit: Double = 1.0)(batch: => Long): KernelRun = {
    val s = System.currentTimeMillis()
    val (n, el) = rate(minSeconds)(batch)
    KernelRun(name, n, el, n / el / unit, s, System.currentTimeMillis())
  }

  /** The canon, robots and filter kernels over `pages` and `urls`. */
  def measure(pages: Seq[Page], urls: Seq[String], robots: Seq[RobotsRow],
      minSeconds: Double): Seq[KernelRun] = {
    val docs = pages.map(p => (p.url, UrlCanon.hostOf(p.url).getOrElse(""), new String(p.html, "UTF-8")))
    val htmlBytes = pages.map(_.html.length.toLong).sum
    val links = docs.flatMap { case (url, host, html) =>
      LinkExtract.extractLinks("https", host, html).map(l => (host, l.uri, url))
    }
    val hashes = urls.map(urlHash).toArray
    val byHost = robots.map(r => r.host -> r).toMap
    val probes = urls.map { u =>
      // a host with no robots row is treated as an unanswered robots.txt
      val r = UrlCanon.hostOf(u).flatMap(byHost.get)
      (Robots.fromStatus(r.map(_.status).getOrElse(404), r.map(_.body).orNull), u)
    }
    val bloom = BloomFilter.create(math.max(hashes.length, 1).toLong, 0.03)
    hashes.foreach(bloom.putLong)
    Seq(
      run("canon.link_extract.mb_per_s", minSeconds, unit = 1e6) {
        docs.foreach { case (_, host, html) => LinkExtract.extractLinks("https", host, html) }; htmlBytes
      },
      run("canon.form_full_url.per_s", minSeconds) {
        links.foreach { case (h, uri, parent) => UrlCanon.formFullUrl("https", uri, h, Some(parent)) }
        links.size.toLong
      },
      run("robots.can_access.per_s", minSeconds) {
        probes.foreach { case (r, u) => Robots.canAccess(r.disallowAll, r.allowAll, r.body, "tarantula", u) }
        probes.size.toLong
      },
      run("filter.bloom_probe.per_s", minSeconds) {
        var i = 0; while (i < hashes.length) { bloom.mightContainLong(hashes(i) ^ i); i += 1 }
        hashes.length.toLong
      },
      {
        val cf = CuckooFilter.create(hashes.length.toLong.max(1L))
        hashes.foreach(cf.insert)
        run("filter.cuckoo_probe.per_s", minSeconds) {
          var i = 0; while (i < hashes.length) { cf.mightContain(hashes(i) ^ i); i += 1 }
          hashes.length.toLong
        }
      },
      run("filter.cuckoo_insert_delete.per_s", minSeconds) {
        val cf = CuckooFilter.create(hashes.length.toLong.max(1L))
        hashes.foreach(cf.insert)
        hashes.foreach(cf.delete)
        2L * hashes.length
      })
  }

  final case class FilterStats(bytes: Long, files: Int, dead: Int, fpp: Double)

  /** Bytes, live files and dead buckets of a committed filter dir (resolved
    * through its inventory, as the probe resolves them), and the false
    * positive rate of the crawl's own file-backed probe on never-seen urls. */
  def filterStats(dir: String, suffix: String, buckets: Int, conf: Configuration,
      probe: (Int, Long) => Boolean, neverSeen: Seq[String]): FilterStats = {
    val live = FilterInventory.resolve(dir, conf, suffix)
    val fs = new HPath(dir).getFileSystem(conf)
    val sizes = live.values.toSeq.map(new HPath(_)).filter(fs.exists).map(p => fs.getFileStatus(p).getLen)
    val d = new HPath(dir)
    val dead = if (fs.exists(d)) fs.listStatus(d).count(_.getPath.getName.endsWith(".dead")) else 0
    val pos = neverSeen.count { u => val h = urlHash(u); probe(bucketOf(h, buckets), h) }
    FilterStats(sizes.sum, sizes.size, dead, pos.toDouble / math.max(neverSeen.size, 1))
  }
}
