package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.crawl.{CrawlJob, FrontierRound}
import graft.model.CrawlConfig
import graft.pipeline.{CorpusOps, DedupOps, MediaOps, SimOps, TextOps}
import graft.synth.Synth
import graft.util.SessionConfs

/** The driver-contract query inventory: every operator from SURVEY.md §2
  * (crawl-engine ops, expressed over the driver's TPC-H-ish tables where
  * SQL-expressible so DuckDB can oracle them) plus the training-data-pipeline
  * operators (dedup / similarity / text analysis / multimodal) over the
  * `documents` and `embeddings` tables.
  *
  * Oracle-parity rules (the driver hash-compares values column-sorted):
  *  - identical column NAMES and comparable types on both sides (Spark int
  *    widened to long wherever DuckDB returns BIGINT/HUGEINT);
  *  - deterministic total ORDER BY on both sides;
  *  - only bit-portable kernels in oracled queries: md5 hex, integer
  *    arithmetic, rational ratios rounded at 4 decimals, double dot products
  *    folded left-to-right.
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // ---------------- crawl-engine ops over TPC-H tables ----------------

  /** J2: the URL-seen anti-join — customers with no order above 400k (the
    * "seen" side is the filtered build set, as in the frontier anti-join
    * where seen is pre-filtered by partition bucket). */
  def seenAntijoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000)
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey")).orderBy(col("c_custkey"))

  val seenAntijoinSql: String =
    """SELECT c_custkey FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  /** A1: the per-host politeness top-k window — first 3 orders per customer. */
  def hostTopK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders").withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val hostTopKSql: String =
    """SELECT o_custkey, o_orderkey, rn FROM (
      |  SELECT o_custkey, o_orderkey,
      |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** J1/J3: seen-set union + distinct (the seen-update shape). */
  def unionSeen(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_custkey").as("key"))
      .union(t(s, dir, "customer").select(col("c_custkey").as("key")))
      .distinct().orderBy(col("key"))

  val unionSeenSql: String =
    """SELECT o_custkey AS key FROM orders
      |UNION SELECT c_custkey FROM customer ORDER BY key""".stripMargin

  /** F1: the depth-gate two-way split — rejected rows become labeled status
    * rows, never silent drops. */
  def depthGateSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .withColumn("crawl_status",
        when(col("l_linenumber") >= 4, lit("MaximumCrawlDepthReached"))
          .otherwise(lit("Crawlable")))
      .groupBy(col("crawl_status")).agg(count(lit(1)).as("n"))
      .orderBy(col("crawl_status"))

  val depthGateSplitSql: String =
    """SELECT CASE WHEN l_linenumber >= 4 THEN 'MaximumCrawlDepthReached'
      |            ELSE 'Crawlable' END AS crawl_status, count(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY crawl_status""".stripMargin

  /** A4: per-round metrics aggregation shape. */
  def roundMetrics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))

  val roundMetricsSql: String =
    """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
      |       round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** A5/GC analog: sessionize events (gap > 30 min ⇒ new session) — the
    * batch expression of the reference's idle-watermark semantics. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // events.ts is TIMESTAMP_NTZ in parquet; session TZ is UTC, so the cast
    // yields the same wall-clock epoch DuckDB's naive epoch_us computes
    val micros = expr("unix_micros(cast(ts as timestamp))")
    val gap = micros - lag(micros, 1).over(w)
    t(s, dir, "events")
      .withColumn("new_sess", when(gap.isNull || gap > 1800000000L, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("event_id"), col("session_id"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val sessionizeSql: String =
    """SELECT user_id, event_id,
      |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |FROM (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events)
      |ORDER BY user_id, event_id""".stripMargin

  /** Tumbling-window aggregation (streaming semantics in batch). */
  def tumblingWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("hour_bucket",
        floor(expr("unix_micros(cast(ts as timestamp))") / 3600000000.0).cast("long"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("hour_bucket"), col("event_type"))

  val tumblingWindowSql: String =
    """SELECT CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hour_bucket,
      |       event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin

  /** A1–A3 on the real engine path: the salted two-phase politeness
    * scheduler over a documents-derived frontier must equal a plain per-host
    * top-k (the oracle). Every host is declared mega so the oracle pins the
    * SALTED path (phase 1 + phase 2), not the single-window shortcut; the
    * flagged variant needs no persist (ADVICE round-1 leak fixed). */
  def scheduleTopK(s: SparkSession, dir: String): DataFrame = {
    val frontier = t(s, dir, "documents").select(
      concat(lit("https://"), col("source"), lit(".test/doc/"),
        col("doc_id").cast("string")).as("url"),
      col("source").as("host"),
      lit(0).as("depth"),
      FrontierRound.prioChildUdf(lit(Array.emptyByteArray), col("doc_id").cast("int"))
        .as("priority"))
    val allHosts = t(s, dir, "documents")
      .select(col("source").as("host")).distinct()
    FrontierRound.scheduleFlagged(frontier,
        CrawlConfig(hostQuotaPerRound = 3, saltBuckets = 4), megaHostsDf = allHosts)
      .filter(col("is_scheduled"))
      .select(col("host").as("source"), col("url"))
      .orderBy(col("source"), col("url"))
  }

  val scheduleTopKSql: String =
    """SELECT source, url FROM (
      |  SELECT source, concat('https://', source, '.test/doc/', doc_id) AS url,
      |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents) WHERE rn <= 3 ORDER BY source, url""".stripMargin

  // ---------------- text analysis over documents ----------------

  def tokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"))
      .orderBy(col("doc_id"))

  val tokenStatsSql: String =
    """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      |       len(list_distinct(string_split(text, ' '))) AS n_distinct
      |FROM documents ORDER BY doc_id""".stripMargin

  def bpeishTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      size(TextOps.bpeishTokens(col("text"))).cast("long").as("n_bpeish"))
      .orderBy(col("doc_id"))

  val bpeishTokensSql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_bpeish
      |FROM documents ORDER BY doc_id""".stripMargin

  def quality(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityScore(t(s, dir, "documents"))
      .withColumn("n_chars", col("n_chars").cast("long"))
      .withColumn("n_tokens", col("n_tokens").cast("long"))
      .orderBy(col("doc_id"))

  val qualitySql: String = {
    val sw = TextOps.stopwords.map(s0 => s"'$s0'").mkString(", ")
    s"""SELECT doc_id, length(text) AS n_chars,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  round(len(list_filter(string_split(text, ' '), t -> t IN ($sw)))
       |        / len(string_split(text, ' ')), 4) AS stopword_ratio,
       |  round((length(text) - len(string_split(text, ' ')) + 1)
       |        / len(string_split(text, ' ')), 4) AS mean_token_len
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------- dedup over documents ----------------

  def exactDedup(s: SparkSession, dir: String): DataFrame =
    DedupOps.exactDedup(t(s, dir, "documents")).orderBy(col("content_md5"))

  val exactDedupSql: String =
    """SELECT md5(text) AS content_md5, min(doc_id) AS keeper_id,
      |       count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY content_md5""".stripMargin

  /** Corpus-frequency boilerplate-line removal (CCNet/RefinedWeb line-level
    * dedup) over a crafted multi-line corpus shared verbatim with the
    * oracle — the sf documents table is single-line by construction, so the
    * semantics (distinct-doc counting, order preservation, all-boilerplate
    * docs, the >= threshold boundary) are pinned on a fixture that
    * exercises them all. */
  val lineDedupMinDocs = 3
  val lineDedupDocs: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("COOKIE NOTICE we use cookies", "alpha article body one",
      "(c) 2020 Example Corp"),
    2L -> Seq("COOKIE NOTICE we use cookies", "beta article body two",
      "subscribe to our newsletter", "(c) 2020 Example Corp"),
    3L -> Seq("COOKIE NOTICE we use cookies", "gamma article body three",
      "terms of service apply"),
    4L -> Seq("delta article body four", "subscribe to our newsletter",
      "(c) 2020 Example Corp"),
    5L -> Seq("COOKIE NOTICE we use cookies", "terms of service apply",
      "epsilon article body five"),
    6L -> Seq("terms of service apply", "zeta article body six",
      "COOKIE NOTICE we use cookies"),
    // all boilerplate -> cleaned_text must come back empty
    7L -> Seq("COOKIE NOTICE we use cookies", "terms of service apply"),
    // a line repeated inside ONE doc is content, not boilerplate
    // (doc_freq counts DISTINCT docs); interleaving pins order preservation
    8L -> Seq("la la la", "la la la", "eta article body eight", "la la la"))

  def lineDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = lineDedupDocs.map { case (id, ls) => (id, ls.mkString("\n")) }
      .toDF("doc_id", "text")
    CorpusOps.removeBoilerplateLines(docs, lineDedupMinDocs)
      .orderBy(col("doc_id"))
  }

  val lineDedupSql: String = {
    val values = lineDedupDocs.map { case (id, ls) =>
      s"(CAST($id AS BIGINT), ${ls.map(l => s"'$l'").mkString(" || chr(10) || ")})"
    }.mkString(",\n")
    s"""WITH docs(doc_id, text) AS (VALUES
       |$values
       |),
       |lines AS (
       |  SELECT doc_id, ord - 1 AS pos, line
       |  FROM docs, LATERAL (
       |    SELECT unnest(string_split(text, chr(10))) AS line,
       |           generate_subscripts(string_split(text, chr(10)), 1) AS ord)),
       |boiler AS (
       |  SELECT line FROM lines
       |  GROUP BY line HAVING count(DISTINCT doc_id) >= $lineDedupMinDocs)
       |SELECT l.doc_id,
       |  coalesce(string_agg(CASE WHEN b.line IS NULL THEN l.line END,
       |                      chr(10) ORDER BY l.pos), '') AS cleaned_text,
       |  count(CASE WHEN b.line IS NULL THEN 1 END) AS kept_lines,
       |  count(CASE WHEN b.line IS NOT NULL THEN 1 END) AS removed_lines
       |FROM lines l LEFT JOIN boiler b ON l.line = b.line
       |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin
  }

  /** PII scrubbing over a pinned corpus (emails / phones / IPv4): each row
    * carries the engine-scrubbed text NEXT TO the expected literal plus the
    * per-kind match counts — the canon-corpus self-evidence pattern. Rows:
    * (case_id, text, expected, n_emails, n_phones, n_ips). */
  val piiCorpus: Seq[(Long, String, String, Int, Int, Int)] = Seq(
    (1L, "contact alice.smith+spam@mail.example.org for details",
      "contact <EMAIL> for details", 1, 0, 0),
    (2L, "two mails: a@b.co and c_d%e@sub.domain.io end",
      "two mails: <EMAIL> and <EMAIL> end", 2, 0, 0),
    (3L, "call 555-123-4567 or 555.987.6543 today",
      "call <PHONE> or <PHONE> today", 0, 2, 0),
    (4L, "server at 192.168.1.1 and 10.0.0.255 responded",
      "server at <IP> and <IP> responded", 0, 0, 2),
    (5L, "mixed: bob@corp.net, 555-867-5309, 127.0.0.1 done",
      "mixed: <EMAIL>, <PHONE>, <IP> done", 1, 1, 1),
    // no TLD -> not an email; digits glued to a word -> no \b -> no IP
    (6L, "not pii: user@localhost and v1.2.3.4 stay",
      "not pii: user@localhost and v1.2.3.4 stay", 0, 0, 0),
    (7L, "edge: starts a@b.io and ends 1.2.3.4",
      "edge: starts <EMAIL> and ends <IP>", 1, 0, 1),
    (8L, "plain text with no identifiers at all",
      "plain text with no identifiers at all", 0, 0, 0),
    // phone-shaped dotted number must scrub as PHONE, never as an IP
    (9L, "dotted phone 123.456.7890 is a phone",
      "dotted phone <PHONE> is a phone", 0, 1, 0),
    // counts follow the replacement chain (ADVICE r4): an IP-shaped email
    // host is one EMAIL and zero IPs; a phone-shaped email local part is
    // one EMAIL and zero phones — each kind counts on the text with all
    // earlier-stage redactions applied, so counts = what was replaced
    (10L, "email bob@1.2.3.4.net hides an ip",
      "email <EMAIL> hides an ip", 1, 0, 0),
    (11L, "phoneish 555-123-4567@relay.io local part",
      "phoneish <EMAIL> local part", 1, 0, 0))

  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = piiCorpus.map { case (id, text, exp, _, _, _) => (id, text, exp) }
      .toDF("case_id", "text", "expected")
    CorpusOps.scrubPii(docs)
      .withColumn("ok", col("clean_text") <=> col("expected"))
      .select(col("case_id"), col("text"), col("expected"), col("clean_text"),
        col("n_emails"), col("n_phones"), col("n_ips"), col("ok"))
      .orderBy(col("case_id"))
  }

  val piiScrubSql: String = {
    val values = piiCorpus.map { case (id, text, exp, ne, np, ni) =>
      s"(CAST($id AS BIGINT), '$text', '$exp', '$exp', $ne, $np, $ni, true)"
    }.mkString(",\n")
    s"""SELECT * FROM (VALUES
       |$values
       |) AS t(case_id, text, expected, clean_text, n_emails, n_phones, n_ips, ok)
       |ORDER BY case_id""".stripMargin
  }

  /** Deterministic content-hash train/val/test split over documents. */
  def hashSplit(s: SparkSession, dir: String): DataFrame =
    CorpusOps.hashSplit(t(s, dir, "documents")).orderBy(col("doc_id"))

  val hashSplitSql: String =
    """SELECT doc_id, bucket,
      |  CASE WHEN bucket < 80 THEN 'train'
      |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id,
      |    CAST(CAST(concat('0x', substring(md5(text), 1, 8)) AS UBIGINT)
      |         % 100 AS BIGINT) AS bucket
      |  FROM documents) ORDER BY doc_id""".stripMargin

  def minhash(s: SparkSession, dir: String): DataFrame =
    DedupOps.minhash(t(s, dir, "documents"), 4).orderBy(col("doc_id"))

  val minhashSql: String = {
    val mins = (0 until 4).map(i => s"min(md5('$i:' || tok)) AS mh$i").mkString(", ")
    s"""SELECT doc_id, $mins FROM (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM documents) GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  def minhashLshBuckets(s: SparkSession, dir: String): DataFrame =
    DedupOps.minhashLshBuckets(t(s, dir, "documents"), 4, 2)
      .orderBy(col("band"), col("band_sig"))

  val minhashLshBucketsSql: String =
    """WITH sig AS (
      |  SELECT doc_id, min(md5('0:' || tok)) AS mh0, min(md5('1:' || tok)) AS mh1,
      |         min(md5('2:' || tok)) AS mh2, min(md5('3:' || tok)) AS mh3
      |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      |        FROM documents) GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_sig FROM sig
      |  UNION ALL
      |  SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_sig FROM sig)
      |SELECT band, band_sig, count(*) AS n_docs, min(doc_id) AS min_doc,
      |       max(doc_id) AS max_doc
      |FROM bands GROUP BY 1, 2 ORDER BY band, band_sig""".stripMargin

  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    DedupOps.ngramJaccardPairs(t(s, dir, "documents"), 3, 0.0)
      .orderBy(col("a"), col("b"))

  val ngramJaccardSql: String =
    """WITH sh AS (
      |  SELECT doc_id, source,
      |    list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),
      |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
      |           || ' ' || string_split(text,' ')[i+2])) AS grams
      |  FROM documents)
      |SELECT x.doc_id AS a, y.doc_id AS b,
      |       round(len(list_intersect(x.grams, y.grams))
      |             / len(list_distinct(list_concat(x.grams, y.grams))), 4) AS jaccard
      |FROM sh x JOIN sh y ON x.source = y.source AND x.doc_id < y.doc_id
      |WHERE len(list_intersect(x.grams, y.grams)) > 0
      |ORDER BY a, b""".stripMargin

  def simhash(s: SparkSession, dir: String): DataFrame =
    DedupOps.simhash(t(s, dir, "documents")).orderBy(col("doc_id"))

  val simhashSql: String = DedupOps.simhashOracleSql("documents")

  // ---------------- embedding similarity ----------------

  def embedTop1(s: SparkSession, dir: String): DataFrame =
    SimOps.cosineTopK(t(s, dir, "embeddings"), 1)
      .select(col("vec_id"), col("neighbor_id")).orderBy(col("vec_id"))

  val embedTop1Sql: String =
    """SELECT vec_id, neighbor_id FROM (
      |  SELECT q.vec_id, c.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                      CAST(c.embedding AS DOUBLE[])) DESC,
      |               c.vec_id) AS rn
      |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id)
      |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  val lshSeed = 42L
  val lshPlanes = 8
  val lshDims = 64

  def embedLshBuckets(s: SparkSession, dir: String): DataFrame =
    SimOps.lshBucketStats(t(s, dir, "embeddings"), lshSeed, lshPlanes, lshDims)
      .orderBy(col("bucket"))

  /** Sign-bit expression identical to `SimOps.lshBucket` — the plane
    * components are embedded as literals so both engines evaluate the same
    * IEEE sequence (float→double promotion, in-order fold). */
  private def lshBitsSql: String = {
    val ps = SimOps.planes(lshSeed, lshPlanes, lshDims)
    (0 until lshPlanes).map { p =>
      val arr = ps(p).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), CAST($arr AS DOUBLE[])) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
  }

  val embedLshBucketsSql: String =
    s"""SELECT CAST($lshBitsSql AS BIGINT) AS bucket, count(*) AS n_vectors,
       |       min(vec_id) AS min_vec, max(vec_id) AS max_vec
       |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Within-bucket exact top-1 — the oracle mirrors `SimOps.lshTopK`: same
    * bucket bits, same (cosine DESC, neighbor_id) tie-break. Only the
    * ORDERING of the cosine has to agree across engines (the value itself is
    * never output), the same contract `q_embed_top1` already pins. */
  val embedLshTop1Sql: String =
    s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |                  CAST($lshBitsSql AS BIGINT) AS bucket FROM embeddings)
       |SELECT vec_id, neighbor_id FROM (
       |  SELECT q.vec_id, c.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.vec_id) AS rn
       |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  def embedLshTop1(s: SparkSession, dir: String): DataFrame =
    SimOps.lshTopK(t(s, dir, "embeddings"), 1, lshSeed, lshPlanes, lshDims)
      .select(col("vec_id"), col("neighbor_id")).orderBy(col("vec_id"))

  def embedMpLshTop1(s: SparkSession, dir: String): DataFrame =
    SimOps.lshTopKMultiProbe(t(s, dir, "embeddings"), 1, lshSeed, lshPlanes, lshDims)
      .select(col("vec_id"), col("neighbor_id")).orderBy(col("vec_id"))

  /** Multi-probe oracle: the probe set (home bucket + each 1-bit flip) is a
    * UNION ALL; candidates keep their home bucket, exactly as in
    * `SimOps.lshTopKMultiProbe`. */
  val embedMpLshTop1Sql: String = {
    val flips = (0 until lshPlanes)
      .map(p => s"UNION ALL SELECT vec_id, xor(bucket, ${1L << p}) AS bucket FROM b")
      .mkString("\n")
    s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |                  CAST($lshBitsSql AS BIGINT) AS bucket FROM embeddings),
       |probes AS (SELECT vec_id, bucket FROM b
       |$flips)
       |SELECT vec_id, neighbor_id FROM (
       |  SELECT p.vec_id, c.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY p.vec_id
       |      ORDER BY list_cosine_similarity(qe.e, c.e) DESC, c.vec_id) AS rn
       |  FROM probes p
       |  JOIN b c ON p.bucket = c.bucket AND p.vec_id <> c.vec_id
       |  JOIN b qe ON qe.vec_id = p.vec_id)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  def cosineNearDupPairs(s: SparkSession, dir: String): DataFrame =
    SimOps.cosineNearDups(t(s, dir, "embeddings"), 0.25, lshSeed, lshPlanes, lshDims)
      .select(col("a"), col("b")).orderBy(col("a"), col("b"))

  /** Pairs only (no cosine value in the output): both engines compute the
    * same double cosine, but only its ≥-threshold DECISION must agree —
    * the same cross-engine contract `q_embed_top1` pins for ordering. */
  val cosineNearDupPairsSql: String =
    s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |                  CAST($lshBitsSql AS BIGINT) AS bucket FROM embeddings)
       |SELECT x.vec_id AS a, y.vec_id AS b
       |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |WHERE list_cosine_similarity(x.e, y.e) >= 0.25
       |ORDER BY a, b""".stripMargin

  // ---------------- IVF ANN ----------------

  val ivfSeed = 7L
  val ivfKCells = 16

  private def ivfCentsSql: String =
    SimOps.centroids(ivfSeed, ivfKCells, lshDims).zipWithIndex.map {
      case (c, i) => s"($i, CAST(${c.mkString("[", ", ", "]")} AS DOUBLE[]))"
    }.mkString("VALUES ", ", ", "")

  /** Shared oracle prelude: per-vector centroid ranking (dot DESC, cell) —
    * rn=1 is the assignment, rn<=nprobe the probe set, matching
    * `SimOps.ivfCell`'s (dot, -cell) struct-max exactly. */
  private def ivfRankedCellsSql: String =
    s"""WITH cents(cell, cv) AS ($ivfCentsSql),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |d AS (SELECT e.vec_id, c.cell,
       |        row_number() OVER (PARTITION BY e.vec_id
       |          ORDER BY list_dot_product(e.emb, c.cv) DESC, c.cell) AS rn
       |      FROM e CROSS JOIN cents c)""".stripMargin

  def ivfCells(s: SparkSession, dir: String): DataFrame =
    SimOps.ivfCellStats(t(s, dir, "embeddings"), ivfSeed, ivfKCells, lshDims)
      .orderBy(col("cell"))

  val ivfCellsSql: String =
    s"""$ivfRankedCellsSql
       |SELECT cell, count(*) AS n_vectors, min(vec_id) AS min_vec,
       |       max(vec_id) AS max_vec
       |FROM d WHERE rn = 1 GROUP BY 1 ORDER BY cell""".stripMargin

  def ivfTop1(s: SparkSession, dir: String): DataFrame =
    SimOps.ivfTopK(t(s, dir, "embeddings"), 1, ivfSeed, ivfKCells, lshDims,
        nprobe = 2)
      .select(col("vec_id"), col("neighbor_id")).orderBy(col("vec_id"))

  val ivfTop1Sql: String =
    s"""$ivfRankedCellsSql,
       |assign AS (SELECT vec_id, cell FROM d WHERE rn = 1),
       |probes AS (SELECT vec_id, cell FROM d WHERE rn <= 2),
       |ranked AS (
       |  SELECT p.vec_id, a.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY p.vec_id
       |      ORDER BY list_cosine_similarity(qe.emb, ce.emb) DESC, a.vec_id) AS rn
       |  FROM probes p JOIN assign a ON p.cell = a.cell AND p.vec_id <> a.vec_id
       |  JOIN e qe ON qe.vec_id = p.vec_id
       |  JOIN e ce ON ce.vec_id = a.vec_id)
       |SELECT vec_id, neighbor_id FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---------------- multimodal plumbing ----------------

  def mediaStats(s: SparkSession, dir: String): DataFrame =
    MediaOps.mediaStats(t(s, dir, "documents"))
      .withColumn("n_bytes", col("n_bytes").cast("long"))
      .orderBy(col("media_id"))

  val mediaStatsSql: String =
    """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
      |  CAST(floor((octet_length(encode(text)) + 255) / 256.0) AS BIGINT) AS n_frames
      |FROM documents ORDER BY media_id""".stripMargin

  def minhashNearDups(s: SparkSession, dir: String): DataFrame =
    DedupOps.minhashNearDups(t(s, dir, "documents"), 4, 2, 0.7,
        maxBucketSize = 4096) // live skew ceiling; no-op at test SF
      .orderBy(col("a"), col("b"))

  /** Full shingle→minhash→band→bucket-join→exact-verify pipeline in one
    * DuckDB statement: md5-min signatures and the rounded-then-thresholded
    * jaccard mirror DedupOps exactly (the threshold compares the ROUNDED
    * value on both sides). */
  val minhashNearDupsSql: String =
    """WITH sig AS (
      |  SELECT doc_id, min(md5('0:' || tok)) AS mh0, min(md5('1:' || tok)) AS mh1,
      |         min(md5('2:' || tok)) AS mh2, min(md5('3:' || tok)) AS mh3
      |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      |        FROM documents) GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_sig FROM sig
      |  UNION ALL
      |  SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_sig FROM sig),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.band_sig = y.band_sig
      |    AND x.doc_id < y.doc_id),
      |tsets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
      |          FROM documents)
      |SELECT a, b, round(len(list_intersect(ta.ts, tb.ts))
      |               / len(list_distinct(list_concat(ta.ts, tb.ts))), 4) AS jaccard
      |FROM cand JOIN tsets ta ON ta.doc_id = a JOIN tsets tb ON tb.doc_id = b
      |WHERE round(len(list_intersect(ta.ts, tb.ts))
      |        / len(list_distinct(list_concat(ta.ts, tb.ts))), 4) >= 0.7
      |ORDER BY a, b""".stripMargin

  def langId(s: SparkSession, dir: String): DataFrame =
    TextOps.langId(t(s, dir, "documents")).orderBy(col("doc_id"))

  /** Full-table DuckDB re-computation of the trigram language-ID kernel
    * (not a pinned VALUES table): per-language hit counts via
    * non-overlapping `replace` deletion — equal to the Scala kernel's
    * sliding-window count because no profile trigram self-overlaps
    * (none has t[0]==t[2] or all-equal chars) — then argmax with the
    * kernel's exact tie rules (strict >, languages in ascending order ⇒
    * rank by score DESC, lang ASC; an all-zero score row is 'und').
    * The profiles VALUES are rendered from [[TextOps.langProfiles]], so
    * oracle and engine cannot desynchronize. Score arithmetic is the same
    * IEEE double division (BIGINT hits / BIGINT trigram count) rounded at
    * 4 decimals on both sides (the repo-wide rational-ratio convention). */
  val langIdSql: String = {
    val vals = TextOps.langProfiles.toSeq.sortBy(_._1).flatMap { case (lang, tris) =>
      tris.map(tri => s"('$lang', '$tri')")
    }.mkString(", ")
    s"""WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
       |profiles(lang, tri) AS (VALUES $vals),
       |hits AS (
       |  SELECT t.doc_id, p.lang,
       |         sum((length(t.lt) - length(replace(t.lt, p.tri, ''))) // 3) AS h,
       |         any_value(length(t.lt)) AS n
       |  FROM t CROSS JOIN profiles p GROUP BY 1, 2),
       |scored AS (
       |  SELECT doc_id, lang, h / (n - 2) AS score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY h / (n - 2) DESC, lang) AS rn
       |  FROM hits WHERE n >= 3),
       |best AS (
       |  SELECT doc_id,
       |    CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_guess,
       |    CASE WHEN score > 0 THEN round(score, 4) ELSE 0.0 END AS lang_score
       |  FROM scored WHERE rn = 1)
       |SELECT d.doc_id, coalesce(b.lang_guess, 'und') AS lang_guess,
       |       coalesce(b.lang_score, 0.0) AS lang_score
       |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  def fingerprints(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprints(t(s, dir, "documents")).orderBy(col("doc_id"))

  /** Full-table DuckDB re-computation of the Rabin–Karp + winnowing
    * fingerprint: UTF-8 bytes recovered from `hex(encode(text))` (the
    * q_media_frames technique), powers of 257 mod 2^61-1 from a recursive
    * CTE, and each hash as an exact HUGEINT sum — content hash joins byte i
    * with power n-1-i; each 16-byte window w is the sum over exponents
    * e-i ∈ [0,15] (the rolling form wh = wh*257 + b+1 expands to exactly
    * this polynomial). All sums stay < 2^127 (≤ nb terms, each < 2^61), so
    * the arithmetic is exact; docs shorter than the 16-byte window take the
    * content hash as their window hash, like the kernel. */
  val fingerprintSql: String = {
    val M = (1L << 61) - 1 // the kernel's Mersenne modulus (TextOps.fingerprint)
    s"""WITH RECURSIVE
       |m AS (SELECT doc_id, hex(encode(text)) AS hx,
       |             CAST(octet_length(encode(text)) AS INT) AS nb FROM documents),
       |p(k, v) AS (
       |  SELECT 0, CAST(1 AS HUGEINT)
       |  UNION ALL
       |  SELECT k + 1, (v * 257) % $M FROM p WHERE k < (SELECT max(nb) FROM m) - 1),
       |b AS (SELECT doc_id, nb, unnest(range(0, nb)) AS i, hx FROM m),
       |v AS (SELECT doc_id, nb, i,
       |        (instr('0123456789ABCDEF', substr(hx, CAST(2*i+1 AS INT), 1)) - 1) * 16
       |      + (instr('0123456789ABCDEF', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS val
       |      FROM b),
       |content AS (
       |  SELECT v.doc_id,
       |    CAST(sum(((CAST(v.val AS HUGEINT) + 1) * p.v) % $M) % $M AS BIGINT) AS ch
       |  FROM v JOIN p ON p.k = v.nb - 1 - v.i GROUP BY 1),
       |wins AS (SELECT doc_id, unnest(range(15, nb)) AS e FROM m WHERE nb >= 16),
       |winh AS (
       |  SELECT w.doc_id, w.e,
       |    CAST(sum(((CAST(v.val AS HUGEINT) + 1) * p.v) % $M) % $M AS BIGINT) AS wh
       |  FROM wins w
       |  JOIN v ON v.doc_id = w.doc_id AND v.i >= w.e - 15 AND v.i <= w.e
       |  JOIN p ON p.k = w.e - v.i
       |  GROUP BY 1, 2),
       |minwin AS (SELECT doc_id, min(wh) AS mwh FROM winh GROUP BY 1)
       |SELECT m.doc_id, coalesce(c.ch, 0) AS content_hash,
       |  CASE WHEN m.nb >= 16 THEN mw.mwh ELSE coalesce(c.ch, 0) END AS min_window_hash
       |FROM m LEFT JOIN content c ON c.doc_id = m.doc_id
       |LEFT JOIN minwin mw ON mw.doc_id = m.doc_id
       |ORDER BY m.doc_id""".stripMargin
  }

  // ---------------- rows-only (not SQL-expressible in the oracle:
  // canon/extract are URL/HTML parsing, crawl_e2e is differentially
  // tested against SimCrawler) ----------------

  def mediaFrames(s: SparkSession, dir: String): DataFrame =
    MediaOps.frameFeatures(t(s, dir, "documents"))
      .orderBy(col("media_id"), col("frame_no"))

  /** Byte-exact oracle for the stub decode: DuckDB lacks per-byte BLOB
    * access, so bytes are recovered from `hex(encode(text))` two hex digits
    * at a time — unsigned, like the Spark side's `b & 0xff` — then the
    * per-256-byte-frame (min, max, sum%256, len) aggregates and the
    * every-2nd-frame sample mirror MediaOps.frameFeatures exactly. */
  val mediaFramesSql: String =
    """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
      |                  CAST(octet_length(encode(text)) AS INT) AS n_bytes
      |           FROM documents),
      |b AS (SELECT media_id, n_bytes, unnest(range(0, n_bytes)) AS byte_no, h
      |      FROM m),
      |v AS (SELECT media_id, n_bytes, byte_no,
      |        (instr('0123456789ABCDEF', substr(h, CAST(2*byte_no+1 AS INT), 1)) - 1) * 16
      |        + (instr('0123456789ABCDEF', substr(h, CAST(2*byte_no+2 AS INT), 1)) - 1) AS val
      |      FROM b),
      |f AS (SELECT media_id, n_bytes, CAST(byte_no // 256 AS INT) AS frame_no,
      |        CAST(min(val) AS INT) AS f_min, CAST(max(val) AS INT) AS f_max,
      |        CAST(sum(val) % 256 AS INT) AS f_sum_mod,
      |        CAST(count(*) AS INT) AS f_len
      |      FROM v GROUP BY 1, 2, 3)
      |SELECT media_id, n_bytes, frame_no, f_min, f_max, f_sum_mod, f_len
      |FROM f WHERE frame_no % 2 = 0 ORDER BY media_id, frame_no""".stripMargin

  /** The flagship: a full depth-bounded crawl of the synthesized web
    * (pages/robots/redirects fixtures) through the crawl loop
    * ([[CrawlJob.run]]) over a temporary state dir, returning the ordered
    * results table. The output is materialized before the dir is deleted,
    * so the query leaves no state behind. */
  def crawlE2E(s: SparkSession, dir: String): DataFrame = {
    val g = Synth.graph(42L, hosts = 3, pagesPerHost = 10)
    val (pages, robots, redirects) = Synth.toDfs(s, g)
    val stateDir = java.nio.file.Files.createTempDirectory("crawl-e2e").toString
    // blooms off: at 30 urls the per-round bloom build jobs cost more than
    // they save (the bloom path is covered by SeenFilterSpec + CrawlE2ESpec).
    // Shuffle partitions scaled to the data for the loop's internal actions
    // (30-row rounds do not want 32-task shuffles), restored after. The
    // loop itself runs rounds this small interpreted
    // (`CrawlJob.InterpretRoundsUpTo`).
    try {
      val results = SessionConfs.scoped(s,
        // shuffle.partitions=1: a 30-row loop wants exactly one task per
        // shuffle stage, statically. AQE OFF: with the round folded into
        // ONE action (results ∪ frontier ∪ newSeen tagged-union
        // checkpoint, r5), AQE's per-exchange stage-materialization jobs
        // are the dominant remaining driver cost on a high-dispatch-latency
        // host — an interleaved A/B of this fixture's crawl (4 reps,
        // min/median, taken on the checkpoint-only loop this query ran
        // before): parts=1+AQE 9.7/9.9 s vs parts=1 no-AQE 7.3/7.3 s,
        // parts=4 no-AQE 7.1/7.5 s. parts=1 no-AQE is chosen for the best
        // median (most stable).
        "spark.sql.shuffle.partitions" -> "1",
        "spark.sql.constraintPropagation.enabled" -> "false",
        "spark.sql.adaptive.enabled" -> "false",
        // ConvertToLocalRelation eagerly evaluates projections over the
        // embedded fixture LocalRelations ON THE DRIVER during every
        // optimizer pass (UDF canonicalization included) — measured ~1.1 s
        // of rule time per flagship run for zero plan benefit on a 30-row
        // fixture. Semantics are unaffected (optimizer rules are
        // semantics-preserving; exclusion only skips the fold).
        "spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") {
        CrawlJob.run(s, g.seeds, pages, robots, redirects,
          CrawlConfig(maxDepth = 3, hostQuotaPerRound = 4, maxRounds = 12,
            useBloomSeen = false), stateDir).results
      }
      // driver-output rule: every column SCALAR — the driver harness
      // canonicalizes with a pandas sort that cannot hash array/map/binary
      // cells (the r2 q_crawl_e2e crash), so the typed `redirects` chain and
      // `headers` map are serialized to JSON strings here and only here
      // (ResultRow/parquet keep the typed columns; `priority` stays
      // dropped). Checkpointed eagerly: the rows must outlive the state dir.
      CrawlJob.orderedResults(results)
        .select(col("schedule_rank"), col("round"), col("url"), col("host"),
          col("final_url"), col("http_code"), col("status_label"),
          col("crawl_status"), col("depth"), col("n_redirects"),
          to_json(col("redirects")).as("redirects"),
          to_json(col("headers")).as("headers"),
          col("n_links"), col("text"),
          col("fetch_start_ms"), col("fetch_end_ms"))
        .localCheckpoint(true)
    } finally {
      val root = new org.apache.hadoop.fs.Path(stateDir)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
    }
  }

  /** ONE assembly of the full corpus as
    * (kind, parent_protocol, host, parent, uri, expected) rows — both the
    * Spark query and its DuckDB oracle render from this, so they can never
    * desynchronize. */
  private lazy val canonCorpusRows: Seq[(String, String, String, String, String, String)] = {
    import graft.canon.{ReferenceCorpus => RC}
    RC.scopeCases.map { case (uri, want) =>
      ("scope", "https", RC.host, "", uri, want.orNull)
    } ++ RC.protocolCases.map { case (proto, uri, want) =>
      ("protocol", proto, RC.host, "", uri, want.orNull)
    } ++ RC.canonCases.map { case (proto, uri, host, parent, want) =>
      ("canonical", proto, host, parent, uri, want)
    } ++ RC.extraCases.flatMap { case (uri, canon, scope, proto) =>
      // builder-authored goldens: each case pins all three functions
      Seq(("canonical", "https", RC.extraHost, RC.extraParent, uri, canon),
        ("scope", "https", RC.extraHost, RC.extraParent, uri, scope),
        ("protocol", "https", RC.extraHost, RC.extraParent, uri, proto))
    }
  }

  /** U1–U8 canonicalization + classification over the FULL reference
    * corpora plus builder goldens (scope + protocol + form_full_url — the
    * data lives in [[graft.canon.ReferenceCorpus]], shared with the specs;
    * reference: linkresult/src/link_type_checker.rs:101-163, :207-256,
    * uri_service.rs:157-233). Each row carries the engine-computed value
    * NEXT TO the corpus-expected value plus an `ok` flag, so the driver
    * record is self-evident; every column scalar. */
  def canonCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val computedUdf = udf((kind: String, proto: String, host: String,
        parent: String, uri: String) => kind match {
      case "scope" => graft.canon.LinkTypeChecker.forHost(host).getUriScope(uri).orNull
      case "protocol" => graft.canon.LinkTypeChecker.forHost(host).getUriProtocol(proto, uri).orNull
      case _ => graft.canon.UrlCanon.formFullUrl(proto, uri, host, Some(parent))
    })
    canonCorpusRows.toDF("kind", "parent_protocol", "host", "parent", "uri", "expected")
      .withColumn("computed", computedUdf(col("kind"), col("parent_protocol"),
        col("host"), col("parent"), col("uri")))
      .withColumn("ok", col("computed") <=> col("expected"))
      .orderBy(col("kind"), col("uri"), col("parent_protocol"), col("parent"))
  }

  /** DuckDB oracle for [[canonCorpus]]: the corpus' EXPECTED values as a
    * literal VALUES table (computed = expected, ok = true). Not circular —
    * the Spark side emits what the ENGINE computed, so any divergence from
    * the pinned corpus hash-mismatches against this table. */
  val canonCorpusSql: String = {
    def q(v: String): String =
      if (v == null) "CAST(NULL AS VARCHAR)" else "'" + v.replace("'", "''") + "'"
    val values = canonCorpusRows.map { case (kind, proto, host, parent, uri, want) =>
      Seq(q(kind), q(proto), q(host), q(parent), q(uri), q(want), q(want), "true")
        .mkString("(", ", ", ")")
    }.mkString(",\n")
    s"""SELECT * FROM (VALUES
       |$values
       |) AS t(kind, parent_protocol, host, parent, uri, expected, computed, ok)
       |ORDER BY kind, uri, parent_protocol, parent""".stripMargin
  }

  /** X1/X2: link extraction + scope classification over synthesized pages. */
  def extractLinks(s: SparkSession, dir: String): DataFrame = {
    val g = Synth.graph(42L, hosts = 2, pagesPerHost = 6)
    val (pages, _, _) = Synth.toDfs(s, g)
    val ex = udf((host: String, html: Array[Byte]) =>
      graft.canon.LinkExtract.extractLinks("https",
        host, new String(html, java.nio.charset.StandardCharsets.UTF_8))
        .map(l => (l.uri, l.scope.orNull, l.protocol.orNull, l.sourceTag)))
    pages.select(col("url"),
        FrontierRound.hostOfUdf(col("url")).as("host"), col("html"))
      .select(col("url"), explode(ex(col("host"), col("html"))).as("l"))
      .select(col("url"), col("l._1").as("uri"), col("l._2").as("scope"),
        col("l._3").as("protocol"), col("l._4").as("source_tag"))
      .orderBy(col("url"), col("uri"), col("source_tag"))
  }

  /** DuckDB oracle for [[extractLinks]]: the pinned deterministic output
    * ([[ExtractLinksPin]], regenerated via graft.GenPin) as a VALUES table.
    * Same self-evidence shape as [[canonCorpusSql]] — the Spark side runs
    * the REAL extraction over the seeded Synth graph, so any drift in the
    * HTML attr walk / scope dispatch / protocol / source-tag kernels
    * hash-mismatches against this pin. */
  val extractLinksSql: String = {
    def q(v: String): String =
      if (v == null) "CAST(NULL AS VARCHAR)" else "'" + v.replace("'", "''") + "'"
    val values = ExtractLinksPin.rows.map { case (url, uri, scope, proto, tag) =>
      Seq(q(url), q(uri), q(scope), q(proto), q(tag)).mkString("(", ", ", ")")
    }.mkString(",\n")
    s"""SELECT * FROM (VALUES
       |$values
       |) AS t(url, uri, scope, protocol, source_tag)
       |ORDER BY url, uri, source_tag""".stripMargin
  }

  // ---------------- registry ----------------

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_seen_antijoin" -> seenAntijoin _,
    "q_host_topk" -> hostTopK _,
    "q_union_seen" -> unionSeen _,
    "q_depth_gate_split" -> depthGateSplit _,
    "q_round_metrics" -> roundMetrics _,
    "q_sessionize" -> sessionize _,
    "q_tumbling_window" -> tumblingWindow _,
    "q_schedule_topk" -> scheduleTopK _,
    "q_token_stats" -> tokenStats _,
    "q_bpeish_tokens" -> bpeishTokens _,
    "q_quality" -> quality _,
    "q_exact_dedup" -> exactDedup _,
    "q_minhash" -> minhash _,
    "q_minhash_lsh_buckets" -> minhashLshBuckets _,
    "q_ngram_jaccard" -> ngramJaccard _,
    "q_simhash" -> simhash _,
    "q_embed_top1" -> embedTop1 _,
    "q_embed_lsh_buckets" -> embedLshBuckets _,
    "q_ivf_cells" -> ivfCells _,
    "q_ivf_top1" -> ivfTop1 _,
    "q_embed_mplsh_top1" -> embedMpLshTop1 _,
    "q_cosine_neardups" -> cosineNearDupPairs _,
    "q_media_stats" -> mediaStats _,
    "q_minhash_neardups" -> minhashNearDups _,
    "q_embed_lsh_top1" -> embedLshTop1 _,
    "q_lang_id" -> langId _,
    "q_fingerprint" -> fingerprints _,
    "q_media_frames" -> mediaFrames _,
    "q_crawl_e2e" -> crawlE2E _,
    "q_canon_corpus" -> canonCorpus _,
    "q_extract_links" -> extractLinks _,
    "q_line_dedup" -> lineDedup _,
    "q_hash_split" -> hashSplit _,
    "q_pii_scrub" -> piiScrub _)

  val oracles: Map[String, String] = Map(
    "q_seen_antijoin" -> seenAntijoinSql,
    "q_host_topk" -> hostTopKSql,
    "q_union_seen" -> unionSeenSql,
    "q_depth_gate_split" -> depthGateSplitSql,
    "q_round_metrics" -> roundMetricsSql,
    "q_sessionize" -> sessionizeSql,
    "q_tumbling_window" -> tumblingWindowSql,
    "q_schedule_topk" -> scheduleTopKSql,
    "q_token_stats" -> tokenStatsSql,
    "q_bpeish_tokens" -> bpeishTokensSql,
    "q_quality" -> qualitySql,
    "q_exact_dedup" -> exactDedupSql,
    "q_minhash" -> minhashSql,
    "q_minhash_lsh_buckets" -> minhashLshBucketsSql,
    "q_ngram_jaccard" -> ngramJaccardSql,
    "q_simhash" -> simhashSql,
    "q_embed_top1" -> embedTop1Sql,
    "q_embed_lsh_buckets" -> embedLshBucketsSql,
    "q_embed_lsh_top1" -> embedLshTop1Sql,
    "q_minhash_neardups" -> minhashNearDupsSql,
    "q_media_frames" -> mediaFramesSql,
    "q_ivf_cells" -> ivfCellsSql,
    "q_ivf_top1" -> ivfTop1Sql,
    "q_embed_mplsh_top1" -> embedMpLshTop1Sql,
    "q_cosine_neardups" -> cosineNearDupPairsSql,
    "q_media_stats" -> mediaStatsSql,
    "q_lang_id" -> langIdSql,
    "q_fingerprint" -> fingerprintSql,
    "q_canon_corpus" -> canonCorpusSql,
    "q_extract_links" -> extractLinksSql,
    "q_line_dedup" -> lineDedupSql,
    "q_hash_split" -> hashSplitSql,
    "q_pii_scrub" -> piiScrubSql)
}
