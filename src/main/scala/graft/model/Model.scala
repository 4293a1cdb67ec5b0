package graft.model

import java.sql.Timestamp

/** The web-as-a-table input (BASELINE.json input_hint; substitutes the
  * reference's live HTTP, page_loader/src/http/http_client.rs:88-94).
  *
  * The first five columns are the input_hint contract and the REQUIRED
  * shape; `headers`/`http_status` are optional fixture extensions the
  * engine detects by name (a bare 5-column table gets synthesized
  * content-type headers and status 200). `headers` models the HTTP response
  * headers (reference: HeadResponse/GetResponse.headers,
  * responses/src/head_response.rs:9-17) — key case is arbitrary on disk;
  * the engine lowercases keys on ingestion (F9, http_utils.rs:7-12). */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String,
    headers: Map[String, String] = null,
    http_status: Integer = null)

/** One followed redirect hop (reference: responses/src/redirect.rs:9-16).
  * `headers` is the hop RESPONSE's header map, keys lowercased (the
  * reference stores `response_headers_to_map(&response)` on every followed
  * hop, fetch_header_command.rs:73-90); per-hop wall-clock timings are
  * replaced by the row-level virtual timings on [[ResultRow]] (deterministic
  * by design). */
final case class RedirectHop(source: String, destination: String, status: Int,
    headers: Map[String, String])

/** Synthesized redirect fixture: HEAD on src_url answers (status, location).
  * `headers` is an OPTIONAL fixture extension (detected by name, like
  * [[Page.headers]]): the hop response's full header map. When absent/null
  * the engine synthesizes the minimal faithful map — a followed redirect
  * response always carried at least its `location` header
  * (reference: fetch_header_command.rs:31-69). */
final case class RedirectRow(src_url: String, location: String, status: Int,
    headers: Map[String, String] = null)

/** Synthesized robots fixture: GET host/robots.txt answered (status, body)
  * (reference: robots_service.rs:55-110). */
final case class RobotsRow(host: String, status: Int, body: String)

/** Per-crawl configuration with the reference defaults
  * (reference: task_context.rs:196-208, run_config.rs:18-34). */
final case class CrawlConfig(
    maxDepth: Int = 16,          // 0 = unlimited crawl, but see childGate
    maxRedirects: Int = 10,
    ignoreRedirects: Boolean = false,
    respectRobots: Boolean = true, // reference stores ignore_robots_txt but
                                   // never initializes robots in the crawl
                                   // path; we honor the spec'd semantics
    userAgent: String = "tarantula",
    crawlDelayMs: Int = 500,
    /** Per-host fetches allowed per round: the politeness budget
      * k = roundBudgetMs / crawlDelayMs (reference enforces >= crawlDelayMs
      * between per-task requests, http_client.rs:79-83). */
    hostQuotaPerRound: Int = 4,
    /** Salt fan-out for the two-phase per-host top-k (mega-host skew). */
    saltBuckets: Int = 16,
    /** Pending-URL count above which a host is routed through the salted
      * two-phase top-k. Purely a performance heuristic — either path yields
      * the same exact per-host top-k. Below it a single per-host window is
      * cheaper (one sort, no phase 2). */
    megaHostThreshold: Long = 100000L,
    /** Hash-bucket count for the partitioned seen table. */
    seenBuckets: Int = 64,
    /** Pre-filter the seen anti-join with the file-backed per-bucket Bloom
      * filters (exactness preserved: bloom-positives take the exact join). */
    useBloomSeen: Boolean = true,
    /** Also export each round's results as JSONL (S5 parity path). */
    exportJsonl: Boolean = false,
    /** Crawl-task id stamped on every [[ResultRow.run_id]] (reference
      * task_uuid, page_response.rs:20). Empty = a resume keeps the id its
      * checkpoint's results carry, and a fresh crawl derives a
      * deterministic UUID from seeds + config (replay-stable). The derived
      * id hashes the config's string form, so it changes whenever a field
      * is added to or removed from this class: a fresh crawl of the same
      * task gets a new id then, a resumed one does not. Set it explicitly
      * for per-launch uniqueness. */
    runId: String = "",
    /** Accelerate the enqueue-time still-queued anti-join with per-bucket
      * CUCKOO filters mirroring the frontier (north_rule "Bloom/cuckoo" —
      * the deletable half: urls leave the frontier when scheduled, which a
      * Bloom cannot express without a full per-round rebuild). Exactness
      * preserved (probe-positives take the exact join; saturated/missing
      * bucket files probe all-true). See
      * [[graft.crawl.FrontierFilter]]. */
    useCuckooFrontier: Boolean = false,
    /** Cuckoo sizing: expected frontier urls per bucket (the filter is
      * created with ~19% slot headroom; a bucket loaded past capacity goes
      * dead = exact-join fallback until the next growth rebuild, which
      * CrawlJob triggers when the driver-known frontier count crosses the
      * doubling boundary). */
    cuckooExpectedPerBucket: Long = 4096L,
    /** Fold the per-round seen slices into one compacted snapshot every K
      * committed rounds (0 = never): bounds the anti-join's scan to
      * compacted + ≤ K tail dirs instead of one dir per round — at
      * thousands of rounds the per-round union is a small-files/listing
      * problem whose cost grows with round count, not seen size. */
    seenCompactEvery: Int = 64,
    maxRounds: Int = 1000,
    /** Anchor of the VIRTUAL politeness clock that stamps
      * [[ResultRow.fetch_start_ms]]/[[ResultRow.fetch_end_ms]] (the
      * deterministic stand-in for the reference's per-request wall-clock
      * ResponseTimings, responses/src/response_timings.rs:5-10). Round r,
      * host-slot s is fetched at
      * `virtualEpochMs + r·quota·(delay+1) + (s−1)·(delay+1)` — the fetch
      * calendar a polite fetcher executing the schedule would realize. */
    virtualEpochMs: Long = 1700000000000L)

/** One frontier entry. `priority` is a binary lineage path: 4 big-endian
  * bytes of link-rank per depth level. Ordering by (depth, priority, url) is
  * the engine's canonical crawl order — (depth asc, parent discovery order,
  * per-parent sorted-raw-uri order), the deterministic projection of the
  * reference's FIFO/BFS behavior (SURVEY.md §7.4). Byte-array priorities
  * compare distributively — no global row_number window in the hot path.
  */
final case class FrontierEntry(
    url: String,
    raw_url: String,
    host: String,
    protocol: String,
    depth: Int,
    priority: Array[Byte])

/** One results-table row (reference PageResponse, responses/src/page_response.rs:10-21,
  * flattened for columnar storage; timings are per-round metrics instead of
  * per-row wall clocks for determinism). */
final case class ResultRow(
    round: Int,
    url: String,
    raw_url: String,
    host: String,               // carried from the frontier entry (never
                                // re-derived downstream — metrics aggregate
                                // this column, not a UDF over url)
    final_url: String,          // null unless fetch succeeded
    http_code: Int,             // -1 when no HTTP exchange happened
    status_label: String,       // F10 canonical label; null when code = -1
    content_type: String,
    headers: Map[String, String], // full response headers, keys lowercased
                                // (PageResponse parity, head_response.rs:9-17);
                                // null when no final response body/head exists
                                // (status rows, connection errors, budget-
                                // terminal 3xx)
    crawl_status: String,       // "Fetched" | "ConnectionError" |
                                // "RestrictedByRobotsTxt" | "MaximumCrawlDepthReached"
    depth: Int,
    priority: Array[Byte],
    n_redirects: Int,
    redirects: Seq[RedirectHop], // per-hop chain (R1); null when no HTTP HEAD ran
    n_links: Int,               // -1 when no body was parsed
    text: String,               // byte-identical per url (north_rule invariant)
    fetch_start_ms: Long,       // virtual politeness clock (PageResponse
                                // response_timings parity, deterministic —
                                // see CrawlConfig.virtualEpochMs)
    fetch_end_ms: Long,         // = start + crawlDelayMs when an HTTP
                                // exchange happened (Fetched/ConnectionError),
                                // else = start (gate decisions are
                                // zero-duration in virtual time)
    run_id: String)             // crawl-task identifier (PageResponse
                                // task_uuid parity, page_response.rs:20).
                                // Deterministic UUID derived from
                                // seeds + config unless CrawlConfig.runId
                                // overrides — two runs appended to one
                                // warehouse stay distinguishable, and a
                                // RESUME of the same task keeps its id

object CrawlStatus {
  val Fetched = "Fetched"
  val ConnectionError = "ConnectionError"
  val RestrictedByRobotsTxt = "RestrictedByRobotsTxt"
  val MaximumCrawlDepthReached = "MaximumCrawlDepthReached"
}

/** Per-round metrics row (north_rule: per-partition lineage + metrics). */
final case class RoundMetrics(
    round: Int,
    scheduled: Long,
    fetched: Long,
    statusRows: Long,
    newLinks: Long,
    newFrontier: Long,
    seenTotal: Long,
    distinctHosts: Long)

object Priority {
  /** Append a 4-byte big-endian rank level to a lineage path. */
  def child(parent: Array[Byte], rank: Int): Array[Byte] = {
    val out = java.util.Arrays.copyOf(parent, parent.length + 4)
    out(parent.length) = (rank >>> 24).toByte
    out(parent.length + 1) = (rank >>> 16).toByte
    out(parent.length + 2) = (rank >>> 8).toByte
    out(parent.length + 3) = rank.toByte
    out
  }
  def root(rank: Int): Array[Byte] = child(Array.emptyByteArray, rank)

  /** Unsigned lexicographic compare (matches Spark BinaryType ordering). */
  def compare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val cmp = Integer.compare(a(i) & 0xff, b(i) & 0xff)
      if (cmp != 0) return cmp
      i += 1
    }
    Integer.compare(a.length, b.length)
  }
}
