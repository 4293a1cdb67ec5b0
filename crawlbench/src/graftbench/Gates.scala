package graftbench

/** One crawl result row as the gates read it. `order` is the row's
  * canonical crawl-order key within its round (hex lineage priority for the
  * persistent loop, schedule rank for the embedded one). */
final case class CrawlRow(round: Int, depth: Int, order: String, url: String,
    host: String, status: String, finalUrl: String, text: String)

/** A gate's verdict: `detail` names the first violation when it fails. */
final case class Gate(name: String, ok: Boolean, detail: String)

/** Correctness gates over a crawl's output. Each is a pure function of the
  * rows and the generated input, so a corrupted copy of real output can be
  * fed to it to show that it fires. */
object Gates {
  private def gate(name: String)(violation: Option[String]): Gate =
    Gate(name, violation.isEmpty, violation.getOrElse(""))

  /** No url is crawled twice: a seen-filter false negative shows here. */
  def uniqueUrls(rows: Seq[CrawlRow]): Gate = gate("unique_urls") {
    rows.groupBy(_.url).collectFirst { case (u, rs) if rs.size > 1 => s"$u appears ${rs.size} times" }
  }

  /** Rows per (round, host) never exceed the politeness quota. */
  def hostQuota(rows: Seq[CrawlRow], quota: Int): Gate = gate("host_quota") {
    rows.groupBy(r => (r.round, r.host)).collectFirst {
      case ((rd, h), rs) if rs.size > quota => s"round $rd host $h has ${rs.size} rows > quota $quota"
    }
  }

  /** Every Fetched row's text is byte-identical to the page at its final url. */
  def textIdentity(rows: Seq[CrawlRow], pageText: Map[String, String]): Gate = gate("text_identity") {
    rows.iterator.filter(_.status == "Fetched").collectFirst {
      case r if !pageText.get(r.finalUrl).exists(t =>
          java.util.Arrays.equals(t.getBytes("UTF-8"), Option(r.text).map(_.getBytes("UTF-8")).orNull)) =>
        s"text of ${r.url} (final ${r.finalUrl}) differs from pages.text"
    }
  }

  /** Ordered digest of (round, depth, order, url, crawl_status). */
  def digest(rows: Seq[CrawlRow]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sortBy(r => (r.round, r.depth, r.order, r.url)).foreach { r =>
      md.update(s"${r.round}|${r.depth}|${r.order}|${r.url}|${r.status}\n".getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** The analytic chain oracle: the rows are exactly `want`, each
    * (round, depth, url, crawl_status). */
  def chainOracle(rows: Seq[CrawlRow], want: Seq[(Int, Int, String, String)]): Gate = gate("chain_oracle") {
    val got = rows.map(r => (r.round, r.depth, r.url, r.status)).toSet
    if (got == want.toSet && rows.size == want.size) None
    else {
      val missing = (want.toSet -- got).toSeq.sorted.take(2)
      val extra = (got -- want).toSeq.sorted.take(2)
      Some(s"${rows.size} rows vs ${want.size} expected; missing $missing; unexpected $extra")
    }
  }
}
