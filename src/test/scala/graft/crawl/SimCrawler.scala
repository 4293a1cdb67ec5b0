package graft.crawl

import graft.canon.{UrlCanon, LinkExtract, UriScope}
import graft.model._
import graft.robots.Robots

/** Sequential reference oracle for the batch-iterative crawl: implements the
  * SAME canonical round semantics as the Spark engine (SURVEY.md §3.4) with
  * plain Scala collections and a DYNAMIC per-request redirect walk (the Spark
  * side uses a static transitive closure — differential coverage of that
  * optimization). Shares only the pure corpus-pinned functions (UrlCanon,
  * LinkExtract, Robots); all orchestration is independent.
  */
object SimCrawler {

  final case class SimEntry(url: String, rawUrl: String, host: String,
      protocol: String, depth: Int, priority: Vector[Int])

  /** One redirect hop: (source, destination, status, response headers). */
  type SimHop = (String, String, Int, Map[String, String])

  final case class SimResult(round: Int, url: String, rawUrl: String,
      host: String,
      finalUrl: Option[String], httpCode: Int, statusLabel: Option[String],
      contentType: Option[String],
      headers: Option[Map[String, String]],
      status: String, depth: Int, priority: Vector[Int], nRedirects: Int,
      redirects: Option[Seq[SimHop]],
      nLinks: Int, text: Option[String],
      fetchStartMs: Long, fetchEndMs: Long)

  final case class SimOutput(results: Seq[SimResult], seen: Set[String], rounds: Int)

  private implicit val vecOrd: Ordering[Vector[Int]] = new Ordering[Vector[Int]] {
    def compare(a: Vector[Int], b: Vector[Int]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      var c = 0
      while (i < n && c == 0) { c = Integer.compare(a(i), b(i)); i += 1 }
      if (c != 0) c else Integer.compare(a.length, b.length)
    }
  }
  private val prioOrd: Ordering[SimEntry] =
    Ordering.by((e: SimEntry) => (e.depth, e.priority, e.url))

  /** Where a HEAD on `start` ends: the final url, the followed hop count,
    * the status of a budget-terminal (or ignored) 3xx, and the followed
    * hops. */
  final case class Walk(finalUrl: String, nRedirects: Int,
      terminal3xx: Option[Int], chain: Vector[SimHop])

  /** The benchmark's deep-crawl web in miniature: per host a chain
    * /c/0 → /c/1 and a linkless leaf /d/0, both seeds, so a
    * per-host quota of 1 defers a row of every host. */
  def deepCrawlWeb(hosts: Int): graft.synth.Synth.Graph = {
    val g = graft.synth.Synth.chainGraph(hosts, chainLen = 2)
    val leaves = (0 until hosts).map(h => Page(s"https://${graft.synth.Synth.host(h)}/d/0",
      new java.sql.Timestamp(1600000000000L), "<html><body>leaf</body></html>".getBytes("UTF-8"),
      s"leaf $h", "en"))
    g.copy(pages = g.pages ++ leaves, seeds = g.seeds ++ leaves.map(_.url))
  }

  /** Dynamic per-request redirect walk (fetch_header_command.rs:31-69),
    * recording one hop per followed redirect (:73-90) with the hop
    * response's lowercased headers (:73-90 clones the map); fixture rows
    * without headers get the minimal faithful map (the location header
    * that was followed). */
  def walkRedirects(start: String, redirectMap: Map[String, RedirectRow],
      cfg: CrawlConfig): Walk = {
    var cur = start
    var n = 0
    var terminal3xx: Option[Int] = None
    var chain = Vector.empty[SimHop]
    var walking = true
    while (walking) {
      redirectMap.get(cur) match {
        case Some(r) if !cfg.ignoreRedirects && n < cfg.maxRedirects =>
          val dest = UrlCanon.formFullUrl(
            UrlCanon.protocolOf(cur).getOrElse("https"), r.location,
            UrlCanon.hostOf(cur).getOrElse(""), Some(cur))
          val hopHdrs = Option(r.headers)
            .map(_.map { case (k, v) => k.toLowerCase -> v })
            .getOrElse(Map("location" -> r.location))
          chain :+= ((cur, dest, r.status, hopHdrs))
          cur = dest; n += 1
        case Some(r) =>
          terminal3xx = Some(r.status); walking = false
        case None => walking = false
      }
    }
    Walk(cur, n, terminal3xx, chain)
  }

  def run(pages: Seq[Page], robotsRows: Seq[RobotsRow], redirectRows: Seq[RedirectRow],
      seeds: Seq[String], cfg: CrawlConfig): SimOutput = {

    val pageMap = pages.map(p => p.url -> p).toMap
    val redirectMap = redirectRows.map(r => r.src_url -> r).toMap
    val robotsMap = robotsRows.map(r => r.host -> Robots.fromStatus(r.status, r.body)).toMap

    var frontier: Vector[SimEntry] = seeds.sorted.zipWithIndex.map { case (u, i) =>
      SimEntry(u, u, UrlCanon.hostOf(u).getOrElse(""),
        UrlCanon.protocolOf(u).getOrElse("https"), 0, Vector(i))
    }.toVector
    var seen = Set.empty[String]
    val results = scala.collection.mutable.ArrayBuffer.empty[SimResult]
    var round = 0

    while (frontier.nonEmpty && round < cfg.maxRounds) {
      // politeness: exact per-host top-k by canonical priority. The slot
      // index (position in the host's top-k, 0-based) is assigned HERE,
      // before the seen check below: a silently-skipped url still consumed
      // its calendar slot (the engine flags slots at scheduling time too).
      val byHost = frontier.groupBy(_.host)
      val scheduled = byHost.values
        .flatMap(_.sorted(prioOrd).take(cfg.hostQuotaPerRound).zipWithIndex)
        .toVector.sortBy(_._1)(prioOrd)
      val scheduledUrls = scheduled.map(_._1.url).toSet
      val deferred = frontier.filterNot(e => scheduledUrls.contains(e.url))

      // virtual politeness clock (independent restatement of the engine's
      // stampTimings rule): slot s fires (delay+1) ms after slot s-1 — the
      // reference gate is strictly-greater (is_blocked while
      // elapsed <= rate_limiting_ms); HTTP rows occupy their window
      val slotMs = cfg.crawlDelayMs.toLong + 1L
      val roundBase = cfg.virtualEpochMs + round.toLong * cfg.hostQuotaPerRound * slotMs
      def startOf(slotIdx: Int): Long = roundBase + slotIdx * slotMs

      val newSeen = scala.collection.mutable.LinkedHashSet.empty[String]
      val childCandidates = scala.collection.mutable.ArrayBuffer.empty[SimEntry]

      scheduled.foreach { case (e, slotIdx) =>
        val t0 = startOf(slotIdx)
        if (!seen.contains(e.url)) { // round-start snapshot, silent skip
          if (cfg.maxDepth > 0 && e.depth >= cfg.maxDepth) {
            results += SimResult(round, e.url, e.rawUrl, e.host, None, -1, None, None,
              None, CrawlStatus.MaximumCrawlDepthReached, e.depth, e.priority, 0, None, -1, None,
              t0, t0)
            newSeen += e.url
          } else {
            val rob = robotsMap.get(e.host)
            val allowed = !cfg.respectRobots || rob.forall(r =>
              Robots.canAccess(r.disallowAll, r.allowAll, r.body, cfg.userAgent, e.url))
            if (!allowed) {
              results += SimResult(round, e.url, e.rawUrl, e.host, None, -1, None, None,
                None, CrawlStatus.RestrictedByRobotsTxt, e.depth, e.priority, 0, None, -1, None,
                t0, t0)
              newSeen += e.url
            } else {
              val Walk(cur, n, terminal3xx, chain) = walkRedirects(e.url, redirectMap, cfg)
              val page = if (terminal3xx.isEmpty) pageMap.get(cur) else None
              if (terminal3xx.isEmpty && page.isEmpty) {
                results += SimResult(round, e.url, e.rawUrl, e.host, None, -1, None, None,
                  None, CrawlStatus.ConnectionError, e.depth, e.priority, 0, None, -1, None,
                  t0, t0 + cfg.crawlDelayMs)
                newSeen += e.url
              } else {
                // lowercased headers (F9) + per-page status, with the
                // synthesized defaults for bare input_hint pages
                val hdrs = page.flatMap(p => Option(p.headers))
                  .map(_.map { case (k, v) => k.toLowerCase -> v })
                  .getOrElse(Map.empty[String, String])
                val pgStatus = page.flatMap(p => Option(p.http_status)).map(_.intValue).getOrElse(200)
                val code = terminal3xx.getOrElse(pgStatus)
                // full response headers (F9-lowercased) — None when the
                // walk ended on a budget-terminal 3xx (no final response);
                // synthesized single-entry map for bare input_hint pages
                val respHeaders: Option[Map[String, String]] = terminal3xx match {
                  case Some(_) => None
                  case None if page.exists(_.headers != null) => Some(hdrs)
                  case None => Some(Map("content-type" ->
                    (if (page.get.html != null) "text/html" else "application/octet-stream")))
                }
                val contentType = terminal3xx match {
                  case Some(_) => None
                  // synthesized default only when the fixture has NO headers
                  // map at all; a present map without content-type is not
                  // html (reference is_html requires the key)
                  case None if page.exists(_.headers != null) => hdrs.get("content-type")
                  case None => Some(
                    if (page.get.html != null) "text/html" else "application/octet-stream")
                }
                // should_download (F5): success OR cloudfront-cached, AND html
                val shouldDownload = terminal3xx.isEmpty &&
                  ((code >= 200 && code <= 299) ||
                    hdrs.get("x-cache").exists(_.contains("cloudfront"))) &&
                  contentType.exists(_.contains("text/html"))
                var nLinks = -1
                if (shouldDownload) {
                  val body = new String(page.get.html, java.nio.charset.StandardCharsets.UTF_8)
                  val links = LinkExtract.extractLinks(e.protocol, e.host, body)
                  nLinks = links.size
                  if (e.depth <= cfg.maxDepth) {
                    LinkExtract.dedupByUri(links)
                      .filter(l => l.scope.exists(UriScope.enqueueable.contains))
                      .zipWithIndex.foreach { case (l, i) =>
                        val childUrl = UrlCanon.formFullUrl(e.protocol, l.uri, e.host, Some(e.url))
                        childCandidates += SimEntry(childUrl, l.uri,
                          UrlCanon.hostOf(childUrl).getOrElse(""),
                          UrlCanon.protocolOf(childUrl).getOrElse("https"),
                          e.depth + 1, e.priority :+ i)
                      }
                  }
                }
                results += SimResult(round, e.url, e.rawUrl, e.host, Some(cur), code,
                  Some(StatusCodes.label(code)),
                  contentType, respHeaders, CrawlStatus.Fetched, e.depth, e.priority, n,
                  Some(chain), nLinks,
                  if (shouldDownload) Some(page.get.text) else None,
                  t0, t0 + cfg.crawlDelayMs)
                newSeen += e.url
                newSeen += cur
              }
            }
          }
        }
      }

      seen = seen ++ newSeen
      // children: dedup by url keeping best priority, then anti-join vs
      // seen' and the still-queued frontier
      val deferredUrls = deferred.map(_.url).toSet
      val newEntries = childCandidates
        .groupBy(_.url).values.map(_.min(prioOrd))
        .filterNot(c => seen.contains(c.url) || deferredUrls.contains(c.url))
        .toVector
      frontier = deferred ++ newEntries
      round += 1
    }
    SimOutput(results.toSeq, seen, round)
  }
}
