package graft.crawl

import org.apache.spark.sql.{DataFrame, SparkSession, Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.canon.{UrlCanon, LinkExtract, UriScope}
import graft.model._
import graft.robots.Robots

/** A canonicalized child link produced by one parent page. */
final case class ChildLink(url: String, raw_url: String, rank: Int)

/** Link-extraction output for one fetched page. */
final case class PageLinks(n_links: Int, children: Seq[ChildLink])

/** One extracted link in the reference's response shape
  * (responses/src/link.rs:7-13: uri + optional scope/protocol/source_tag) —
  * the JSONL export's per-page link inventory, including the scoped-out
  * classes (External/Mailto/…) that never reach the frontier. */
final case class LinkOut(uri: String, scope: String, protocol: String,
    source_tag: String)

/** One crawl round as pure DataFrame transformations (SURVEY.md §3.4).
  *
  * Spark-first layout: everything is a declarative plan — Catalyst pushes the
  * cheap gates below the joins, prunes the fat `html` column until the single
  * projection that parses it, and AQE handles skewed shuffles. UDFs appear
  * exactly where the north rule allows them: URL canonicalization and HTML
  * link extraction.
  */
object FrontierRound {

  /** DDL of the per-hop redirect chain ([[graft.model.RedirectHop]]). */
  val chainType: String =
    "array<struct<source:string,destination:string,status:int,headers:map<string,string>>>"

  // ---------- UDFs (pure; never marked nondeterministic) ----------

  val hostOfUdf = udf((u: String) => UrlCanon.hostOf(u).getOrElse(""))
  val protocolOfUdf = udf((u: String) => UrlCanon.protocolOf(u).getOrElse("https"))

  val canonUdf = udf((proto: String, uri: String, host: String, parent: String) =>
    UrlCanon.formFullUrl(proto, uri, host, Option(parent)))

  val canAccessUdf = udf((disallowAll: Boolean, allowAll: Boolean, body: String, agent: String, url: String) =>
    Robots.canAccess(disallowAll, allowAll, Option(body).getOrElse(""), agent, url))

  val prioChildUdf = udf((parent: Array[Byte], rank: Int) => Priority.child(parent, rank))

  /** The whole per-page child pipeline in one pass over the html, so the fat
    * body bytes never cross a shuffle (SURVEY.md §7.4):
    * extract (document order, first href/src/data-src per element) → sort by
    * raw uri → adjacent dedup → retain scoped → whitelist
    * Root/SameDomain/DifferentSubDomain → form_full_url → rank.
    * n_links counts ALL sorted links pre-dedup (the reference keeps the full
    * list on the response, page_loader_service.rs:140-144).
    */
  val extractChildrenUdf = udf((protocol: String, host: String, html: Array[Byte], parentUrl: String) => {
    if (html == null) PageLinks(-1, Seq.empty)
    else {
      val body = new String(html, java.nio.charset.StandardCharsets.UTF_8)
      val links = LinkExtract.extractLinks(protocol, host, body)
      val deduped = LinkExtract.dedupByUri(links)
      val children = deduped.iterator
        .filter(l => l.scope.exists(UriScope.enqueueable.contains))
        .zipWithIndex
        .map { case (l, i) =>
          ChildLink(UrlCanon.formFullUrl(protocol, l.uri, host, Some(parentUrl)), l.uri, i)
        }
        .toSeq
      PageLinks(links.size, children)
    }
  })

  /** FULL sorted pre-dedup link list of one page — the reference keeps this
    * list on the PageResponse (page_response.rs:17, set from the extraction
    * before enqueue-side dedup, page_loader_service.rs:140-144), so
    * `links.size == n_links` by construction. Export-path only: the hot
    * round keeps the lean [[extractChildrenUdf]] output. */
  val extractAllLinksUdf = udf((protocol: String, host: String, html: Array[Byte]) =>
    if (html == null) Seq.empty[LinkOut]
    else LinkExtract.extractLinks(protocol, host,
        new String(html, java.nio.charset.StandardCharsets.UTF_8))
      .map(l => LinkOut(l.uri, l.scope.orNull, l.protocol.orNull, l.sourceTag)))

  /** Per-page link inventory for the JSONL export (url → links array):
    * re-joins the fat `html` only for rows that parsed a body (n_links ≥ 0)
    * and re-runs the extraction with the SAME (protocol, host, body) triple
    * the round used, so the array agrees with the row's n_links. Runs only
    * when `exportJsonl` is on — never in the hot round loop. */
  def exportLinks(results: DataFrame, pages: DataFrame): DataFrame =
    results.filter(col("n_links") >= 0)
      .select(col("url"), col("host"), col("final_url"))
      .join(pages.select(col("url").as("pb_url"), col("html").as("pb_html")),
        col("final_url") === col("pb_url"), "left")
      .select(col("url"),
        extractAllLinksUdf(protocolOfUdf(col("url")), col("host"),
          col("pb_html")).as("links"))

  // ---------- static per-job preparation ----------

  /** Per-host robots decision cache (reference derives it per task from one
    * robots.txt fetch, robots_service.rs:55-110). Small → broadcast. */
  def buildRobotsCache(robots: DataFrame): DataFrame = {
    val mk = udf((status: Int, body: String) => Robots.fromStatus(status, Option(body).getOrElse("")))
    robots.select(col("host"), mk(col("status"), col("body")).as("r"))
      .select(col("host"), col("r.disallowAll").as("disallow_all"),
        col("r.allowAll").as("allow_all"), col("r.body").as("robots_body"))
  }

  /** Output schema of [[resolveRedirects]]. */
  private val closureSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "start_url string, final_url string, n_redirects int, terminal_is_redirect boolean, " +
      s"terminal_status int, redirects $chainType")

  /** Redirect-closure join strategy threshold: when the redirects fixture
    * holds at most this many rows (known exactly — the closure build
    * counts its hop cache anyway), each hop of the closure's semi-naive
    * walk joins the still-redirecting chains against a broadcast of the
    * hop table (one broadcast per hop, each its own job): a map-side
    * BroadcastHashJoin, no shuffle or sort of the chains. Above it the
    * hops keep shuffle joins (a huge redirects table must never be
    * broadcast). Purely a join-strategy heuristic: either path computes
    * the same closure. */
  val RedirectBroadcastMaxRows = 1L << 20

  /** Transitive closure of the redirects fixture, bounded by maxRedirects —
    * computed ONCE per job (redirect chains are static), so each round pays a
    * single join instead of maxRedirects+1 iterative ones
    * (reference follows redirects recursively per request,
    * fetch_header_command.rs:31-69; location headers are canonicalized
    * against the CURRENT hop's scheme/host, :73-90).
    *
    * Semi-naive fixpoint: each hop left-joins only the chains STILL
    * redirecting (one materialized leaf) against the hop table, so every hop
    * adds a constant-size plan, and the walk stops as soon as that leaf is
    * empty — the number of hops follows the longest real chain, not
    * maxRedirects, and an empty hop table builds no hop at all.
    *
    * Output: (start_url, final_url, n_redirects, terminal_is_redirect,
    * terminal_status, redirects). final_url = last followed destination
    * (= the reference's get_final_uri, head_response.rs:30-36); `redirects`
    * is the per-hop (source, destination, status) chain of FOLLOWED hops —
    * one struct per append_redirect call (fetch_header_command.rs:73-90); a
    * budget-terminal 3xx is never appended (the guard stops before
    * following it).
    */
  def resolveRedirects(spark: SparkSession, redirects: DataFrame, cfg: CrawlConfig): DataFrame = {
    // hop headers: optional fixture column (keys lowercased on ingestion —
    // F9, same rule as page headers); absent/null rows get the minimal
    // faithful map — a followed redirect response always carried at least
    // its location header (fetch_header_command.rs:47-52 reads it from the
    // response whose full header map rides the hop)
    val defaultHopHeaders = map(lit("location"), col("location"))
    val hopHeaders =
      if (redirects.columns.contains("headers"))
        coalesce(transform_keys(col("headers"), (k, _) => lower(k)), defaultHopHeaders)
      else defaultHopHeaders
    val r = redirects.select(
      col("src_url"), col("location"), col("status").cast("int"),
      hopHeaders.as("hop_headers"))
      .withColumn("dest", canonUdf(protocolOfUdf(col("src_url")), col("location"),
        hostOfUdf(col("src_url")), col("src_url")))
      .cache()

    // Exact hop-table size, known up front (the count materializes `r`'s
    // cache, which the hops read anyway): small tables get (a) broadcast hop
    // joins and (b) single-partition leaves — a LocalRelation-fed closure
    // otherwise checkpoints at ~one partition per row, and every round's
    // redirect join then dispatches that many near-empty tasks.
    val nHops = r.count()
    val smallHopTable = nHops <= RedirectBroadcastMaxRows
    // an empty hop table has nothing to materialize: an empty local
    // relation lets every round's optimizer drop the redirect join outright
    if (nHops == 0) {
      r.unpersist()
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), closureSchema)
    }

    // Collapse a plan to a LogicalRDD leaf (eager checkpoint): the hop
    // leaves keep each hop's plan constant-size, and the finished closure
    // is ONE leaf that every round's plan embeds instead of the hop tree.
    def leaf(plan: DataFrame): DataFrame =
      (if (smallHopTable) plan.coalesce(1) else plan).localCheckpoint(true)
    val hopLeaves = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // the finished closure: materialized inside, so `r`'s cache and the hop
    // leaves — which exist only for this build — are released at once
    // instead of lingering for the job's lifetime
    def finish(plan: DataFrame): DataFrame = {
      val out = leaf(plan)
      r.unpersist()
      hopLeaves.foreach(release)
      out
    }

    val emptyChain = array().cast(FrontierRound.chainType)

    if (cfg.ignoreRedirects || cfg.maxRedirects == 0) {
      // HEAD answers 3xx but the chain is never followed (run_config
      // ignore_redirects, fetch_header_command.rs:49) — no hops recorded
      return finish(r.select(col("src_url").as("start_url"), col("src_url").as("final_url"),
        lit(0).as("n_redirects"), lit(true).as("terminal_is_redirect"),
        col("status").as("terminal_status"), emptyChain.as("redirects")))
    }

    def hop(source: Column, destination: Column, status: Column, headers: Column): Column =
      struct(source.as("source"), destination.as("destination"), status.as("status"),
        headers.as("headers"))

    // Join strategy for the hop joins: a small hop table takes a broadcast
    // hint (a map-side BroadcastHashJoin per hop, no shuffle or sort of the
    // live chains); a big one keeps shuffle joins (broadcast would be the
    // scale-killer). Either path computes the identical closure.
    val hopSide = {
      val h = r.select(col("src_url").as("j_src"), col("dest").as("j_dest"),
        col("status").as("j_status"), col("hop_headers").as("j_headers"))
      if (smallHopTable) broadcast(h) else h
    }
    def walk(live: DataFrame): DataFrame =
      live.join(hopSide, col("cur_url") === col("j_src"), "left")
    def out(df: DataFrame, terminalIsRedirect: Column, terminalStatus: Column): DataFrame =
      df.select(col("start_url"), col("cur_url").as("final_url"), col("n_redirects"),
        terminalIsRedirect.as("terminal_is_redirect"),
        terminalStatus.as("terminal_status"), col("chain").as("redirects"))

    // every start url follows its first hop; `live` = chains whose current
    // url may redirect again. Terminal legs are filters over the hop
    // leaves, unioned ONCE at the end (an incremental union would
    // re-analyze an O(hops)-leg tree on every hop).
    var live = r.select(
      col("src_url").as("start_url"), col("dest").as("cur_url"),
      lit(1).as("n_redirects"),
      array(hop(col("src_url"), col("dest"), col("status"), col("hop_headers"))).as("chain"))
    var liveNonEmpty = true
    val doneLegs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var hops = 1
    // follow while n_redirects < maxRedirects allows another hop
    while (liveNonEmpty && hops < cfg.maxRedirects) {
      val step = leaf(walk(live))
      hopLeaves += step
      doneLegs += out(step.filter(col("j_src").isNull), lit(false), lit(0))
      live = step.filter(col("j_src").isNotNull)
        .select(col("start_url"), col("j_dest").as("cur_url"),
          (col("n_redirects") + 1).as("n_redirects"),
          concat(col("chain"), array(hop(col("cur_url"), col("j_dest"), col("j_status"),
            col("j_headers")))).as("chain"))
      liveNonEmpty = !live.isEmpty
      hops += 1
    }
    // chains still live at the budget: a terminal 3xx head on cur_url
    if (liveNonEmpty) {
      val redirecting = col("j_src").isNotNull
      doneLegs += out(walk(live), redirecting, when(redirecting, col("j_status")).otherwise(0))
    }
    finish(doneLegs.reduce(_ union _))
  }

  // ---------- the round ----------

  /** Convert the round-relative `fetch_offset_ms` emitted by [[run]] into
    * the absolute virtual-clock stamps of [[graft.model.ResultRow]]
    * (`fetch_start_ms`/`fetch_end_ms`). Applied by the crawl loop ABOVE the
    * round's materialized leaf ([[materialize]]): `round` is a changing
    * literal, kept out so the round tree has the same shape every round.
    * That shape alone does not make generated code reusable: a round's
    * plans need ~150 distinct classes against Spark's 100-entry codegen
    * cache, so a compiled round recompiles them all; small rounds run
    * interpreted instead (`CrawlJob.InterpretRoundsUpTo`). */
  def stampTimings(results: DataFrame, round: Int, cfg: CrawlConfig): DataFrame = {
    val slotMs = cfg.crawlDelayMs.toLong + 1L
    val roundBase = cfg.virtualEpochMs + round.toLong * cfg.hostQuotaPerRound * slotMs
    val start = lit(roundBase) + col("fetch_offset_ms")
    results
      .withColumn("fetch_start_ms", start)
      // rows with an HTTP exchange occupy their politeness window; pure
      // gate decisions (depth/robots) are zero-duration in virtual time
      .withColumn("fetch_end_ms", start + when(
        col("crawl_status").isin(CrawlStatus.Fetched, CrawlStatus.ConnectionError),
        cfg.crawlDelayMs.toLong).otherwise(0L))
      .drop("fetch_offset_ms")
  }

  final case class RoundOutput(
      results: DataFrame,     // ResultRow schema, minus round and with
                              // fetch_offset_ms in place of the absolute
                              // fetch_start/end_ms — see [[stampTimings]]
      newSeen: DataFrame,     // (url)
      deferred: DataFrame,    // FrontierEntry schema — stays queued
      entered: DataFrame,     // FrontierEntry schema — enqueued this round
                              // (cuckoo INSERTS, CrawlJob)
      departed: DataFrame,    // (url) — left the frontier this round (the
                              // scheduled slice; cuckoo DELETES)
      leaves: Seq[DataFrame]) // round-scoped checkpointed intermediates
  {
    /** Release the round's intermediate leaves once the round's outputs
      * are materialized ([[materialize]]). */
    def release(): Unit = leaves.foreach(FrontierRound.release)
  }

  /** Drop the blocks behind a checkpointed leaf (the DataFrame a
    * `localCheckpoint` returned). `Dataset.unpersist` does not: a checkpoint
    * is not a cache entry. Only for leaves that nothing will read again;
    * any other plan is left alone. */
  def release(leaf: DataFrame): Unit = leaf.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** A round's outputs materialized by ONE action (see [[materialize]]):
    * every leg is a filter over the same checkpointed leaf, and the counts
    * come from the action that materialized it. */
  final class Materialized private[FrontierRound] (leaf: DataFrame,
      resultCols: Seq[String], frontierCols: Seq[String], stats: Map[String, Row]) {
    private def leg(kind: String): DataFrame = leaf.filter(col("__kind") === kind)
    /** [[RoundOutput.results]] (round-relative timings). */
    def results: DataFrame = leg("r").select(resultCols.map(col): _*)
    def newSeen: DataFrame = leg("s").select(col("url"))
    def entered: DataFrame = leg("f").filter(col("__entered")).select(col("url"))
    def departed: DataFrame = leg("d").select(col("url"))
    private def stat(kind: String, name: String): Long =
      stats.get(kind).map(_.getAs[Long](name)).getOrElse(0L)
    def frontierCount: Long = stat("f", "n")
    def newSeenCount: Long = stat("s", "n")
    def metrics(round: Int, seenTotal: Long): RoundMetrics = {
      val scheduled = stat("r", "n")
      val fetched = stat("r", "fetched")
      RoundMetrics(round, scheduled, fetched, scheduled - fetched,
        stat("r", "new_links"), frontierCount, seenTotal, stat("r", "hosts"))
    }
    /** The round's persistent state as ONE tagged union, for
      * [[graft.io.TableIO.writeRound]]: `kind` r (the results columns), f
      * (the frontier columns) and s (new seen urls, with their `bucket`);
      * the departed rows are not state. */
    def state(buckets: Int): DataFrame =
      leaf.filter(col("__kind") =!= "d").select(col("__kind").as("kind") +:
        when(col("__kind") === "s", SeenFilter.bucketOf(col("url"), buckets)).as("bucket") +:
        (resultCols ++ frontierCols).distinct.map(col): _*)
    def release(): Unit = FrontierRound.release(leaf)
  }

  /** Materialize a round's outputs with ONE action. Results, the next
    * frontier, the new-seen delta and the departed (scheduled) urls ride
    * one lazily checkpointed leaf as a tagged union (`__kind`; missing
    * columns null-filled), and every writer reads that leaf instead of
    * re-running the round. The one action is a grouped aggregate over the
    * leaf: every leg's count plus the [[graft.model.RoundMetrics]]
    * aggregates of the results leg. The caller may drop the round's
    * intermediate leaves ([[RoundOutput.release]]) right after. The crawl
    * loop ([[CrawlJob.run]]) writes the round's state (one write) and
    * every filter of the round from this leaf. */
  def materialize(out: RoundOutput): Materialized = {
    def tagged(df: DataFrame, kind: String) = df.withColumn("__kind", lit(kind))
    // the frontier leg flags its entered rows, so the cuckoo inserts ride
    // it instead of re-planning the enqueue gate as a leg of their own
    val legs = Seq(tagged(out.results, "r"),
      tagged(out.deferred, "f").withColumn("__entered", lit(false)),
      tagged(out.entered, "f").withColumn("__entered", lit(true)),
      tagged(out.newSeen, "s"), tagged(out.departed, "d"))
    val leaf = legs.reduce(_.unionByName(_, allowMissingColumns = true))
      .localCheckpoint(false)
    val stats = leaf.groupBy(col("__kind")).agg(count(lit(1)).as("n"),
      sum(when(col("crawl_status") === CrawlStatus.Fetched, 1L).otherwise(0L)).as("fetched"),
      sum(when(col("n_links") >= 0, col("n_links").cast("long")).otherwise(0L)).as("new_links"),
      // host rides every result row from its frontier entry — a plain
      // column aggregate, no UDF re-derivation
      countDistinct(col("host")).as("hosts"))
      .collect().map(r => r.getString(0) -> r).toMap
    new Materialized(leaf, out.results.columns.toSeq, out.deferred.columns.toSeq, stats)
  }

  private val prioOrder: Seq[Column] = Seq(col("depth"), col("priority"), col("url"))

  /** Seen-set delta for a batch of result rows: every emitted result's
    * requested url + every successful fetch's final url enter the seen set
    * (page_loader_service.rs:192-201 — status rows included, because
    * consume_crawl_result runs for them too), minus already-seen. The ONE
    * definition of the seen-update rule ([[RoundOutput.newSeen]], which the
    * crawl loop materializes). */
  def newSeenOf(results: DataFrame, seen: DataFrame): DataFrame =
    results.select(col("url"))
      .union(results.filter(col("final_url").isNotNull).select(col("final_url").as("url")))
      .distinct()
      .join(seen.select("url"), Seq("url"), "left_anti")

  /** Hosts whose pending count exceeds the salting threshold — the ONLY
    * hosts routed through the two-phase salted top-k, as a (host) DataFrame
    * that is never collected to the driver: [[run]] (via
    * [[scheduleFlagged]]) folds it into the round plan as a broadcast
    * semi/anti join, so even a pathological frontier with thousands of mega
    * hosts stays a small broadcast relation instead of a thousands-long
    * `isin` literal in the plan. Mega-ness is a
    * pure performance heuristic (any choice yields the same exact top-k), so
    * the caller may also feed stale/raw counts (e.g. last round's metrics). */
  def findMegaHostsDf(frontier: DataFrame, threshold: Long): DataFrame =
    frontier.groupBy(col("host")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > threshold)
      .select(col("host"))

  /** Politeness scheduler: exact per-host top-k by canonical priority
    * (north_rule: "host-keyed priority queue", "salted-key skew handling for
    * mega-hosts"), returning the frontier with an `is_scheduled` flag in ONE
    * declarative plan — no persist, no branch.
    *
    * Non-mega hosts (the overwhelming majority): a single per-host
    * row_number window — one shuffle+sort, exact top-k.
    *
    * Mega hosts (pending > cfg.megaHostThreshold, passed in by the caller
    * as a (host) DataFrame): phase 1 ranks within (host, salt) so no sort
    * task ever sees more than ~pending/saltBuckets rows of one host; phase
    * 2 ranks only the ≤ saltBuckets·k phase-1 survivors per host. Rows with
    * rn1 > k are deferred without touching phase 2. The split is a pair of
    * broadcast LEFT ANTI / LEFT SEMI joins: they never duplicate probe rows
    * (safe even if the mega set has dup hosts) and add no columns. The
    * mega relation is tiny by construction (hosts over the threshold);
    * `broadcast` keeps the split shuffle-free on the frontier side.
    */
  def scheduleFlagged(frontier: DataFrame, cfg: CrawlConfig,
      megaHostsDf: DataFrame): DataFrame = {
    val mega = broadcast(megaHostsDf.select(col("host")))
    // using-column semi/anti joins move the join key first; the trailing
    // projection restores the frontier's column order
    scheduleSplit(
      frontier.join(mega, Seq("host"), "left_anti"),
      frontier.join(mega, Seq("host"), "left_semi"), cfg)
      .select(frontier.columns.map(col).toIndexedSeq :+
        col("is_scheduled") :+ col("host_slot"): _*)
  }

  /** Single-window top-k — the path when no host can be mega. */
  private def scheduleSingle(frontier: DataFrame, cfg: CrawlConfig): DataFrame = {
    val whost = Window.partitionBy(col("host")).orderBy(prioOrder: _*)
    slotted(frontier.withColumn("__rn", row_number().over(whost)),
      col("__rn"), cfg.hostQuotaPerRound).drop("__rn")
  }

  // host_slot = the politeness rank (1-based) of a SCHEDULED row within
  // its host — the row's position in the host's polite fetch calendar
  // (feeds the virtual-clock timings, see [[stampTimings]]); null on
  // deferred rows (they have no slot this round)
  private def slotted(df: DataFrame, rn: Column, k: Int): DataFrame = df
    .withColumn("is_scheduled", rn <= k)
    .withColumn("host_slot", when(rn <= k, rn))

  /** The two-lane scheduler over a pre-split frontier: plain window for
    * `normalRows`, two-phase salted top-k for `megaRows`. */
  private def scheduleSplit(normalRows: DataFrame, megaRows: DataFrame,
      cfg: CrawlConfig): DataFrame = {
    val k = cfg.hostQuotaPerRound
    val whost = Window.partitionBy(col("host")).orderBy(prioOrder: _*)
    val normal = scheduleSingle(normalRows, cfg)
    val p1 = megaRows
      .withColumn("__salt", pmod(xxhash64(col("url")), lit(cfg.saltBuckets.toLong)))
      .withColumn("__rn1", row_number().over(
        Window.partitionBy(col("host"), col("__salt")).orderBy(prioOrder: _*)))
      .drop("__salt")
    val surv = slotted(p1.filter(col("__rn1") <= k).drop("__rn1")
      .withColumn("__rn2", row_number().over(whost)), col("__rn2"), k).drop("__rn2")
    val rest = p1.filter(col("__rn1") > k).drop("__rn1")
      .withColumn("is_scheduled", lit(false))
      .withColumn("host_slot", lit(null).cast("int"))
    normal.unionByName(surv).unionByName(rest)
  }

  /** [[scheduleFlagged]] materialized once (an eager checkpoint leaf) and
    * split into (scheduled, deferred, leaf). The one materialization exists
    * because callers act on both branches; callers that only need one pass
    * over the flagged rows should use [[scheduleFlagged]] directly. Caller
    * must [[release]] the leaf when done. */
  def schedule(frontier: DataFrame, cfg: CrawlConfig,
      megaHosts: Option[DataFrame] = None): (DataFrame, DataFrame, DataFrame) = {
    val flagged = megaHosts.map(scheduleFlagged(frontier, cfg, _))
      .getOrElse(scheduleSingle(frontier, cfg))
      .localCheckpoint(true)
    (flagged.filter(col("is_scheduled")).drop("is_scheduled"),
      flagged.filter(!col("is_scheduled")).drop("is_scheduled", "host_slot"),
      flagged)
  }

  /** Run one round. `pages` must expose (url, html, text); `seen` is (url)
    * (bucket column optional); `robotsCache` from [[buildRobotsCache]];
    * `resolvedRedirects` from [[resolveRedirects]]. */
  def run(
      spark: SparkSession,
      round: Int,
      frontier: DataFrame,
      seen: DataFrame,
      pages: DataFrame,
      robotsCache: DataFrame,
      resolvedRedirects: DataFrame,
      cfg: CrawlConfig,
      seenBlooms: Option[org.apache.spark.broadcast.Broadcast[FilterInventory.FileProbe[_]]] = None,
      megaHosts: Option[DataFrame] = None,
      frontierProbe: Option[org.apache.spark.broadcast.Broadcast[FilterInventory.FileProbe[_]]] = None): RoundOutput = {

    // bloom-accelerated exact anti-join vs the seen set (when blooms cover
    // exactly `seen`): definitely-new urls skip the join; bloom-positives
    // take the exact path — identical output, a fraction of the shuffle
    def antiSeen(candidates: DataFrame): DataFrame = seenBlooms match {
      case Some(b) => SeenFilter.bloomAntiJoin(candidates, seen, b)
      case None => candidates.join(seen.select("url"), Seq("url"), "left_anti")
    }

    // 1. politeness top-k per host
    val (scheduled0, deferred, flagged) = schedule(frontier, cfg, megaHosts)

    // 2. dequeue-time AlreadyKnown gate — SILENT skip, no result row
    //    (page_crawl_command.rs:82-85 returns Ok(None); urls can become seen
    //    while queued, e.g. as someone else's redirect target)
    val scheduled = antiSeen(scheduled0)

    // 3.-6. every gate is a COLUMN of one linear plan, so results, the
    //    new-seen delta and the children all read ONE materialized row set —
    //    no filter/union branches that each re-run the joins. A row's
    //    status is the first gate it fails, in the reference's order.
    //
    // depth gate (page_crawl_command.rs:73-77; 0 = unlimited)
    val depthGate = lit(cfg.maxDepth) > 0 && col("depth") >= cfg.maxDepth
    // robots gate (page_crawl_command.rs:92-95; decision
    // robots_service.rs:46-52; missing cache row = default allow)
    val allowed =
      if (!cfg.respectRobots) lit(true)
      else canAccessUdf(
        coalesce(col("disallow_all"), lit(false)),
        coalesce(col("allow_all"), lit(false)),
        coalesce(col("robots_body"), lit("")),
        lit(cfg.userAgent), col("url"))
    // redirect resolution (one static-closure join) + page lookup. A url in
    // the redirects fixture answers 3xx; otherwise a url in pages answers
    // its http_status (default 200) with its headers (default: text/html
    // when html is present, octet-stream otherwise); otherwise the HEAD
    // fails → ConnectionError (page_crawl_command.rs:116-135).
    // Optional fixture columns: headers (keys lowercased on ingestion — F9,
    // http_utils.rs:7-12) and per-page http_status; a bare input_hint table
    // (url, warc_ts, html, text, lang) gets the synthesized defaults
    val hasHeaders = pages.columns.contains("headers")
    val hasStatus = pages.columns.contains("http_status")
    val pagesMeta = pages.select(col("url").as("pg_url"),
      col("html").isNotNull.as("pg_has_html"), col("text").as("pg_text"),
      (if (hasHeaders) transform_keys(col("headers"), (k, _) => lower(k))
       else lit(null).cast("map<string,string>")).as("pg_headers"),
      (if (hasStatus) coalesce(col("http_status"), lit(200)) else lit(200)).as("pg_status"))
    val connError = col("is_redirect_terminal") === false && col("pg_url").isNull
    val isFetched = col("crawl_status") === CrawlStatus.Fetched
    val headed = scheduled
      .join(broadcast(robotsCache), Seq("host"), "left")
      .join(resolvedRedirects, col("url") === resolvedRedirects("start_url"), "left")
      .withColumn("target", coalesce(col("final_url"), col("url")))
      .drop("start_url", "final_url")
      .join(pagesMeta, col("target") === col("pg_url"), "left")
      .withColumn("n_redirects", coalesce(col("n_redirects"), lit(0)))
      .withColumn("is_redirect_terminal", coalesce(col("terminal_is_redirect"), lit(false)))
      .withColumn("crawl_status",
        when(depthGate, lit(CrawlStatus.MaximumCrawlDepthReached))
          .when(!allowed, lit(CrawlStatus.RestrictedByRobotsTxt))
          .when(connError, lit(CrawlStatus.ConnectionError))
          .otherwise(lit(CrawlStatus.Fetched)))
      .drop("disallow_all", "allow_all", "robots_body")
      // download + link extraction, gated by should_download
      // (page_crawl_command.rs:157-166): (HTTP success OR an `x-cache`
      // header containing "cloudfront" — a CDN-cached error page still
      // serves a body) AND content-type contains text/html (F5+F6)
      .withColumn("http_code", when(col("is_redirect_terminal"), col("terminal_status")).otherwise(col("pg_status")))
      // the final response's header map (keys already lowercased in
      // pagesMeta — F9). The synthesized single-entry default applies ONLY
      // to bare 5-column input (headers column null): the reference's
      // is_html REQUIRES the content-type key when headers exist
      // (page_crawl_command.rs:163-166) — a present-but-keyless map means
      // NOT html. A budget-terminal 3xx has no final response → null map.
      .withColumn("resp_headers",
        when(col("is_redirect_terminal"), lit(null).cast("map<string,string>"))
          .otherwise(when(col("pg_headers").isNotNull, col("pg_headers"))
            .otherwise(map(lit("content-type"),
              when(col("pg_has_html"), lit("text/html"))
                .otherwise(lit("application/octet-stream"))))))
      .withColumn("content_type", element_at(col("resp_headers"), "content-type"))
      .withColumn("should_download", isFetched &&
        col("is_redirect_terminal") === false &&
          (col("http_code").between(200, 299) ||
            coalesce(element_at(col("pg_headers"), "x-cache").contains("cloudfront"), lit(false))) &&
          coalesce(col("content_type").contains("text/html"), lit(false)))

    // re-join the fat html column only for rows that will parse it — the
    // pages scan for everyone else never reads html (column pruning).
    // Materialized AFTER the html is consumed by the extraction UDF and
    // dropped: the fat bytes live only inside this one join stage, never in
    // the leaf or any later shuffle (SURVEY.md §7.4). Results, new-seen and
    // the children all read this one leaf inside the round's one action
    // ([[materialize]]): a checkpoint leaf, not a cache, so no scan of it
    // ever schedules a cache-materialization stage of its own.
    val pagesBody = pages.select(col("url").as("pb_url"), col("html").as("pb_html"))
    val crawled = headed
      .join(pagesBody, col("should_download") && col("target") === col("pb_url"), "left")
      .withColumn("pl",
        when(col("should_download"),
          extractChildrenUdf(col("protocol"), col("host"), col("pb_html"), col("url")))
          .otherwise(lit(null)))
      .drop("pb_url", "pb_html")
      .localCheckpoint(true)

    // ---------- results ----------
    // round-relative start of the row's politeness slot on the virtual
    // fetch calendar: slot s of a host fires at (s−1)·(delay+1) after the
    // round opens (+1 = the reference's strictly-greater gate, is_blocked
    // holds while elapsed <= rate_limiting_ms, http_client.rs:79-83).
    // [[stampTimings]] adds the round's absolute base — `round` is a
    // changing literal and stays OUT of this identically-shaped round tree
    // (whose generated classes still outnumber the codegen cache, see
    // [[stampTimings]]).
    val fetchOffset = ((col("host_slot") - 1).cast("long") *
      (cfg.crawlDelayMs.toLong + 1L)).as("fetch_offset_ms")
    // status rows (depth / robots / connection error) carry no HTTP
    // response: no final url, http_code -1, no headers, chain or links
    def ifFetched(c: Column, otherwise: Column): Column = when(isFetched, c).otherwise(otherwise)
    val results = crawled.select(col("url"), col("raw_url"), col("host"),
      ifFetched(col("target"), lit(null).cast("string")).as("final_url"),
      ifFetched(col("http_code"), lit(-1)).as("http_code"),
      ifFetched(StatusCodes.labelCol(col("http_code")), lit(null).cast("string")).as("status_label"),
      ifFetched(col("content_type"), lit(null).cast("string")).as("content_type"),
      ifFetched(col("resp_headers"), lit(null).cast("map<string,string>")).as("headers"),
      col("crawl_status"),
      col("depth"), col("priority"),
      ifFetched(col("n_redirects"), lit(0)).as("n_redirects"),
      // a successful HEAD always carries a (possibly empty) chain
      // (head_response.rs:9-17: redirects is a Vec, never absent)
      ifFetched(coalesce(col("redirects"), array().cast(chainType)),
        lit(null).cast(chainType)).as("redirects"),
      ifFetched(coalesce(col("pl.n_links"), lit(-1)), lit(-1)).as("n_links"),
      when(col("should_download"), col("pg_text")).otherwise(lit(null).cast("string")).as("text"),
      fetchOffset)

    // ---------- seen update ----------
    val newSeen = newSeenOf(results, seen)

    // ---------- children → next frontier ----------
    // enqueue gate: parent depth <= maxDepth (page_loader_service.rs:142 —
    // note this makes maxDepth=0 enqueue only the seeds' children)
    val kids = crawled
      .filter(col("pl").isNotNull && col("depth") <= cfg.maxDepth)
      .select(col("depth"), col("priority"), explode(col("pl.children")).as("c"))
      .select(col("c.url").as("url"), col("c.raw_url").as("raw_url"),
        (col("depth") + 1).as("depth"),
        prioChildUdf(col("priority"), col("c.rank")).as("priority"))
      .withColumn("host", hostOfUdf(col("url")))
      .withColumn("protocol", protocolOfUdf(col("url")))

    // within-round dedup by canonical url, keeping best priority (the
    // reference enqueues both and silently drops the later at dequeue —
    // same output, page_crawl_command.rs:87-90)
    val kidsDeduped = kids
      .withColumn("rn", row_number().over(Window.partitionBy(col("url")).orderBy(col("depth"), col("priority"))))
      .filter(col("rn") === 1).drop("rn")

    // enqueue-time anti-join vs seen ∪ newSeen ∪ still-queued frontier
    // (page_loader_service.rs:157). Anti-joining against the UNION of the
    // reject sets is set-identical to chaining one anti-join per set (the
    // kids side is never duplicated by an anti-join) but pays ONE shuffle
    // of the kids instead of three — the union legs are map-side. The legs
    // a membership filter accelerates stay separate: blooms cover `seen`
    // (through the previous round), the cuckoo probe covers the frontier
    // (⊇ deferred), and each probe's filter-rejected kids skip the exact
    // join entirely.
    val newEntries = ((seenBlooms, frontierProbe) match {
      case (None, None) =>
        kidsDeduped.join(
          seen.select("url").union(newSeen.select("url"))
            .union(deferred.select("url")),
          Seq("url"), "left_anti")
      case (Some(b), None) =>
        SeenFilter.bloomAntiJoin(kidsDeduped, seen, b)
          .join(newSeen.select("url").union(deferred.select("url")),
            Seq("url"), "left_anti")
      case (_, Some(p)) =>
        SeenFilter.bloomAntiJoin(
          antiSeen(kidsDeduped).join(newSeen.select("url"), Seq("url"), "left_anti"),
          deferred.select("url"), p)
    }).select("url", "raw_url", "host", "protocol", "depth", "priority")

    RoundOutput(results, newSeen,
      deferred.select("url", "raw_url", "host", "protocol", "depth", "priority"),
      newEntries, scheduled0.select("url"),
      Seq(flagged, crawled))
  }
}
