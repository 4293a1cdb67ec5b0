package graft.crawl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graft.JobCounter
import graft.SparkTestBase
import graft.model._
import graft.synth.Synth

/** The static redirect closure ([[FrontierRound.resolveRedirects]]) against
  * the sequential per-url walk the oracle crawler uses
  * ([[SimCrawler.walkRedirects]]), row for row, plus the closure's job
  * budget: it follows the longest real chain, never maxRedirects. */
class RedirectClosureSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  // (start_url, final_url, n_redirects, terminal_is_redirect,
  //  terminal_status, rendered chain)
  private type ClosureRow = (String, String, Int, Boolean, Int, String)

  private def hopStr(src: String, dst: String, status: Int, hdrs: collection.Map[String, String]) =
    s"$src>$dst#$status@" + hdrs.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")

  private def closure(redirects: Seq[RedirectRow], cfg: CrawlConfig): Seq[ClosureRow] = {
    import spark.implicits._
    val df = FrontierRound.resolveRedirects(spark, redirects.toDF(), cfg)
    val rows = df.collect().map { r =>
      val chain = r.getAs[collection.Seq[org.apache.spark.sql.Row]]("redirects").map(h =>
        hopStr(h.getString(0), h.getString(1), h.getInt(2), h.getAs[collection.Map[String, String]](3)))
      (r.getAs[String]("start_url"), r.getAs[String]("final_url"), r.getAs[Int]("n_redirects"),
        r.getAs[Boolean]("terminal_is_redirect"), r.getAs[Int]("terminal_status"),
        chain.mkString("|"))
    }.toSeq.sorted
    FrontierRound.release(df)
    rows
  }

  private def walked(redirects: Seq[RedirectRow], cfg: CrawlConfig): Seq[ClosureRow] = {
    val hops = redirects.map(r => r.src_url -> r).toMap
    redirects.map(_.src_url).distinct.map { start =>
      val w = SimCrawler.walkRedirects(start, hops, cfg)
      (start, w.finalUrl, w.nRedirects, w.terminal3xx.isDefined, w.terminal3xx.getOrElse(0),
        w.chain.map(h => hopStr(h._1, h._2, h._3, h._4)).mkString("|"))
    }.sorted
  }

  private def assertIdentical(redirects: Seq[RedirectRow], cfg: CrawlConfig, clue: String): Unit = {
    val want = walked(redirects, cfg)
    assert(want.nonEmpty, clue)
    assert(closure(redirects, cfg) == want, clue)
  }

  private def url(i: Int) = s"https://hop.test/u/$i"
  /** u0 → u1 → … → u`len`: `len` hops, u`len` answers no redirect. */
  private def chain(len: Int): Seq[RedirectRow] =
    (0 until len).map(i => RedirectRow(url(i), s"/u/${i + 1}", if (i % 2 == 0) 301 else 302))

  test("row identity with the per-url walk over Synth graphs, every budget shape") {
    for {
      seed <- Seq(42L, 7L, 2024L)
      g = Synth.graph(seed, hosts = 4, pagesPerHost = 8)
      cfg <- Seq(1, 2, 3, 10).map(m => CrawlConfig(maxRedirects = m)) :+
        CrawlConfig(ignoreRedirects = true)
    } assertIdentical(g.redirects, cfg,
      s"seed=$seed maxRedirects=${cfg.maxRedirects} ignore=${cfg.ignoreRedirects}")
  }

  test("row identity on hand fixtures: a 2-cycle and chains at and over the budget") {
    val cycle = Seq(
      RedirectRow("https://cyc.test/a", "/b", 301, Map("Location" -> "/b", "X-Hop" -> "1")),
      RedirectRow("https://cyc.test/b", "https://cyc.test/a", 307))
    for (m <- Seq(1, 2, 3, 4)) {
      assertIdentical(cycle, CrawlConfig(maxRedirects = m), s"2-cycle maxRedirects=$m")
      assertIdentical(chain(m), CrawlConfig(maxRedirects = m), s"chain of exactly $m hops")
      assertIdentical(chain(m + 1), CrawlConfig(maxRedirects = m), s"chain of ${m + 1} hops, budget $m")
    }
    // the budget-exact chain ends clean, the over-budget one on a 3xx head
    val exact = closure(chain(3), CrawlConfig(maxRedirects = 3)).head
    assert(exact._2 == url(3) && exact._3 == 3 && !exact._4)
    val over = closure(chain(4), CrawlConfig(maxRedirects = 3)).head
    assert(over._2 == url(3) && over._3 == 3 && over._4 && over._5 == 302)
  }

  test("job budget: an empty hop table builds in a few jobs, a chain in O(length)") {
    def jobs(redirects: Seq[RedirectRow], cfg: CrawlConfig): Int =
      JobCounter(spark.sparkContext)(closure(redirects, cfg))
    // `closure` adds its own collect: one job
    val empty = jobs(Seq.empty, CrawlConfig())
    assert(empty <= 5, s"empty hop table took $empty jobs")
    for (len <- Seq(1, 3, 6)) {
      val tight = jobs(chain(len), CrawlConfig(maxRedirects = len + 2))
      val loose = jobs(chain(len), CrawlConfig(maxRedirects = 4 * len + 40))
      assert(tight == loose, s"chain of $len: $tight jobs at budget ${len + 2}, $loose at ${4 * len + 40}")
      assert(tight <= 6 + 4 * len, s"chain of $len took $tight jobs")
    }
  }
}
