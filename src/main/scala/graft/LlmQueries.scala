package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Artifacts, Dedup, Multimodal, Similarity, TermStats,
  TextStats}

/** LLM-training-data pipeline queries over the `documents` fixture:
  * text statistics, language-ID, fingerprinting, exact dedup, and
  * MinHash-LSH near-dedup — each with an exact DuckDB oracle (the
  * near-dup oracle is the brute-force pair join, which the LSH path
  * must reproduce exactly: candidates are verified with exact Jaccard,
  * so precision is exact and the band parameters are chosen so recall
  * at the threshold is deterministic-complete on separated data).
  *
  * The n-gram family (novelty, contamination, shared-gram share, trim
  * spans) is one consumer per metric over ONE gram relation: each
  * inline query feeds it the hashed source (`TermStats.gramKeys` /
  * `gramPositions`), each `_artifact` twin the same relation saved as
  * a bucketed table ([[gramArtifact]], [[gramPosArtifact]]), and the
  * pair shares one oracle verbatim.
  */
object LlmQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)

  /** The per-doc-distinct hashed 5-gram relation (_id, _k) of the
    * corpus — the inline source the novelty and contamination queries
    * read; their artifact twins read the same relation saved
    * ([[gramArtifact]]).
    */
  private def corpusGrams(s: SparkSession, d: String): DataFrame =
    TermStats.gramKeys(docs(s, d), col("doc_id"), col("text"), 5,
      distinct = true)

  /** Deterministic per-doc crawl URLs synthesized from the fixture
    * columns — every canonicalization rule gets hit by construction:
    * mixed-case scheme+host, default port (https:443 at doc_id%12==0,
    * http:80 at %3!=0 ∧ %4==1), NON-default port (:8080 kept, https:80
    * kept — only the scheme's OWN default strips), unsorted query
    * params (?z=…&a=… flips), absent query (%5==0), fragment (%4==0).
    * The oracle builds the identical string with the identical CASE
    * arms, so the gate pins the full build→canonicalize pipeline.
    */
  private def urlExpr: Column =
    concat(
      when(col("doc_id") % 3 === 0, lit("HTTPS")).otherwise(lit("HTTP")),
      lit("://WWW."), col("source"), lit(".Example.COM"),
      when(col("doc_id") % 4 === 0, lit(":443"))
        .when(col("doc_id") % 4 === 1, lit(":80"))
        .when(col("doc_id") % 4 === 2, lit(":8080"))
        .otherwise(lit("")),
      lit("/"), col("lang"), lit("/Doc"),
      (col("doc_id") % 100).cast("string"),
      when(col("doc_id") % 5 === 0, lit(""))
        .otherwise(concat(lit("?z="), col("doc_id").cast("string"),
          lit("&a="), (col("doc_id") % 7).cast("string"))),
      when(col("doc_id") % 4 === 0, concat(lit("#sec-"), col("lang")))
        .otherwise(lit("")))

  private def docUrls(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), col("source"), col("lang"),
      col("n_chars"), urlExpr.as("url"))

  /** Oracles shared by an inline query and its table-backed twin,
    * VERBATIM (the q_contam_artifact proof pattern): the driver's hash
    * compare then proves artifact-read ≡ inline end to end — a stale or
    * wrongly-bucketed table is a hash mismatch, not a silent skew. The
    * oracles replay the string-gram form; the engine's xxhash64 keys
    * are internal and every output is gram-free.
    */
  private val noveltyOracle = Oracle("""WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
        |                w -> w <> '') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |            || ' ' || ws[i+3] || ' ' || ws[i+4]
        |           for i in range(1, len(ws) - 3)]) AS gram
        |  FROM t WHERE len(ws) >= 5),
        |fresh AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 10 = 0),
        |base AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 <> 0)
        |SELECT f.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END)
        |    AS BIGINT) AS n_seen,
        |  CAST(count(*) - sum(CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END)
        |    AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS novelty_frac
        |FROM fresh f LEFT JOIN base b ON f.gram = b.gram
        |GROUP BY f.doc_id
        |ORDER BY doc_id""".stripMargin)

  private val sharedNgramsOracle = Oracle("""WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
        |    w -> w <> '') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |  unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
        |          ws[i+3] || ' ' || ws[i+4]
        |          for i in range(1, len(ws) - 3)]) AS gram
        |  FROM w),
        |dg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |gs AS (SELECT gram, count(*) AS nd FROM dg GROUP BY 1)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN nd > 1 THEN c ELSE 0 END) AS BIGINT)
        |    AS n_shared_grams,
        |  CAST(sum(CASE WHEN nd > 1 THEN c ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(c) AS DOUBLE) AS shared_gram_frac
        |FROM dg JOIN gs USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  private val dedupSpansOracle = Oracle("""WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
        |    w -> w <> '') AS ws FROM documents),
        |g AS (SELECT doc_id, u.pos, u.gram FROM (
        |  SELECT doc_id, unnest([{'pos': i - 1,
        |    'gram': ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
        |            ws[i+3] || ' ' || ws[i+4]}
        |    for i in range(1, len(ws) - 3)]) AS u FROM w)),
        |df AS (SELECT gram, count(DISTINCT doc_id) AS nd
        |       FROM g GROUP BY 1),
        |d AS (SELECT g.doc_id, g.pos FROM g JOIN df USING (gram)
        |      WHERE nd > 1),
        |i AS (SELECT doc_id, pos,
        |  CASE WHEN pos - lag(pos) OVER
        |    (PARTITION BY doc_id ORDER BY pos) = 1 THEN 0 ELSE 1 END
        |    AS brk FROM d),
        |s AS (SELECT doc_id, pos, sum(brk) OVER
        |  (PARTITION BY doc_id ORDER BY pos) AS island FROM i)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 4 AS BIGINT) AS span_end,
        |  CAST(count(*) AS BIGINT) AS span_grams
        |FROM s GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin)

  /** Contamination-audit replay: the novelty oracle's tokenize/5-gram
    * CTEs with eval slice doc_id % 17.
    */
  private val contamOracle = Oracle("""WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
        |                w -> w <> '') AS ws
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |    unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |            || ' ' || ws[i+3] || ' ' || ws[i+4]
        |           for i in range(1, len(ws) - 3)]) AS gram
        |  FROM t WHERE len(ws) >= 5),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
        |tr AS (SELECT * FROM g WHERE doc_id % 17 <> 0)
        |SELECT tr.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN ev.gram IS NULL THEN 0 ELSE 1 END)
        |    AS BIGINT) AS n_contaminated,
        |  CAST(sum(CASE WHEN ev.gram IS NULL THEN 0 ELSE 1 END)
        |    AS BIGINT) * 100 // CAST(count(*) AS BIGINT) AS contam_pct
        |FROM tr LEFT JOIN ev USING (gram)
        |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin)

  val catalogue: Seq[(String, Query)] = Seq(
    "q_text_stats" -> Query((s, d) =>
      TextStats.addStats(docs(s, d), col("text"))
        .select("doc_id", "n_chars", "n_tokens", "avg_token_len",
          "punct_ratio", "stopword_cnt", "n_subtokens")
        .orderBy("doc_id"),
      Oracle("""SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(string_split_regex(text, '[ \t\n\r\f]+')) AS n_tokens,
        |  CAST(length(text) - (len(string_split_regex(text, '[ \t\n\r\f]+')) - 1) AS DOUBLE)
        |    / len(string_split_regex(text, '[ \t\n\r\f]+')) AS avg_token_len,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |    / length(text) AS punct_ratio,
        |  len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is|that)\b')) AS stopword_cnt,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_subtokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // URL canonicalization (functions/UrlOps) — the web-corpus key
    // stage: whole-row string pipeline, zero UDFs, one codegen span.
    "q_url_canon" -> Query((s, d) =>
      docUrls(s, d)
        .select(col("doc_id"), col("url"),
          graft.functions.UrlOps.schemeOf(col("url")).as("scheme"),
          graft.functions.UrlOps.hostOf(col("url")).as("host"),
          graft.functions.UrlOps.canonicalizeUrl(col("url"))
            .as("url_canon"))
        .orderBy("doc_id"),
      // q_url_canon: the oracle rebuilds the identical synthetic URL and
      // replays every canonicalization step (split_part / list_sort /
      // array_to_string are semantics-identical to substring_index /
      // sort_array / array_join on this grammar).
      Oracle("""WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'HTTP' END)
        |      || '://WWW.' || source || '.Example.COM'
        |      || (CASE doc_id % 4 WHEN 0 THEN ':443' WHEN 1 THEN ':80'
        |          WHEN 2 THEN ':8080' ELSE '' END)
        |      || '/' || lang || '/Doc' || CAST(doc_id % 100 AS VARCHAR)
        |      || (CASE WHEN doc_id % 5 = 0 THEN ''
        |          ELSE '?z=' || CAST(doc_id AS VARCHAR)
        |            || '&a=' || CAST(doc_id % 7 AS VARCHAR) END)
        |      || (CASE WHEN doc_id % 4 = 0 THEN '#sec-' || lang
        |          ELSE '' END) AS url
        |  FROM documents),
        |p1 AS (SELECT doc_id, url, split_part(url, '#', 1) AS nofrag
        |  FROM u),
        |p2 AS (SELECT doc_id, url,
        |    lower(split_part(nofrag, '://', 1)) AS scheme,
        |    substr(nofrag, length(split_part(nofrag, '://', 1)) + 4)
        |      AS rest
        |  FROM p1),
        |p3 AS (SELECT *,
        |    split_part(split_part(rest, '/', 1), '?', 1) AS hostport,
        |    substr(rest, length(split_part(split_part(rest, '/', 1),
        |      '?', 1)) + 1) AS pathq
        |  FROM p2),
        |p4 AS (SELECT *,
        |    lower(split_part(hostport, ':', 1)) AS host,
        |    CASE WHEN contains(hostport, ':')
        |      THEN split_part(hostport, ':', 2) ELSE '' END AS port,
        |    split_part(pathq, '?', 1) AS path,
        |    CASE WHEN contains(pathq, '?')
        |      THEN substr(pathq, length(split_part(pathq, '?', 1)) + 2)
        |      ELSE '' END AS q
        |  FROM p3)
        |SELECT doc_id, url, scheme, host,
        |  scheme || '://' || host
        |  || (CASE WHEN port <> ''
        |        AND NOT ((scheme = 'http' AND port = '80')
        |          OR (scheme = 'https' AND port = '443'))
        |      THEN ':' || port ELSE '' END)
        |  || path
        |  || (CASE WHEN q <> '' THEN '?' ||
        |        array_to_string(list_sort(string_split(q, '&')), '&')
        |      ELSE '' END) AS url_canon
        |FROM p4 ORDER BY doc_id""".stripMargin)),

    // URL-level dedup — the C4/CCNet first dedup stage: multiple
    // crawls of the same LOCATION (host + path, query params ignored
    // as volatile) collapse to one deterministic survivor (min
    // doc_id). One map-side-combined exchange on the location key;
    // at 100 TB this runs before any text gate because it's the
    // cheapest duplicate class to kill (no content comparison).
    "q_url_dedup" -> Query((s, d) =>
      docUrls(s, d)
        .select(col("doc_id"), col("n_chars"),
          graft.functions.UrlOps.hostOf(col("url")).as("host"),
          graft.functions.UrlOps.pathOf(col("url")).as("path"))
        .groupBy("host", "path")
        .agg(min(col("doc_id")).as("survivor_id"),
          count(lit(1)).as("n_crawls"),
          min_by(col("n_chars"), col("doc_id")).as("survivor_chars"))
        .orderBy("host", "path"),
      // q_url_dedup: host/path derive directly from the synthetic
      // grammar (build→parse identity, q_host_stats convention).
      Oracle("""WITH u AS (
        |  SELECT doc_id, n_chars,
        |    'www.' || source || '.example.com' AS host,
        |    '/' || lang || '/Doc' || CAST(doc_id % 100 AS VARCHAR)
        |      AS path
        |  FROM documents)
        |SELECT host, path, min(doc_id) AS survivor_id,
        |  count(*) AS n_crawls,
        |  arg_min(n_chars, doc_id) AS survivor_chars
        |FROM u GROUP BY host, path ORDER BY host, path""".stripMargin)),

    // Per-source percentile quality gate — the FineWeb-style adaptive
    // threshold: an absolute quality cutoff (q_quality) misjudges
    // sources with different score distributions, so each source
    // keeps its own top fraction. Exact rank gate (percent_rank over
    // (quality, doc_id) — fully tie-deterministic, identical formula
    // (rank−1)/(n−1) in both engines); one exchange + sort per
    // source, the same cost class as any window pipeline. At 100 TB
    // with sources too big to sort, the two-pass variant computes
    // per-source exact rank thresholds via the q_quantiles machinery
    // and broadcast-joins them — same gate, no full sort.
    "q_quality_gate_rel" -> Query((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("quality"), col("doc_id"))
      TextStats.addStats(docs(s, d), col("text"))
        .withColumn("quality", TextStats.qualityScore)
        .select(col("doc_id"), col("source"), col("quality"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("kept", col("pr") >= 0.25)
        .orderBy("doc_id")
    },
      // q_quality_gate_rel: same quality expression as q_quality;
      // percent_rank is (rank-1)/(n-1) in both engines and the ORDER BY
      // includes doc_id, so ranks (hence the gate) are tie-deterministic.
      Oracle("""WITH s AS (
        |  SELECT doc_id, source,
        |    len(string_split_regex(text, '[ \t\n\r\f]+')) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |      / length(text) AS punct_ratio,
        |    len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is|that)\b')) AS stopword_cnt
        |  FROM documents
        |),
        |q AS (
        |  SELECT doc_id, source,
        |    (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4)
        |    + ((1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3)
        |    + (least(CAST(stopword_cnt AS DOUBLE) * 10.0 / n_tokens, 1.0) * 0.3) AS quality
        |  FROM s
        |)
        |SELECT doc_id, source, quality,
        |  percent_rank() OVER (PARTITION BY source
        |    ORDER BY quality, doc_id) AS pr,
        |  (percent_rank() OVER (PARTITION BY source
        |    ORDER BY quality, doc_id)) >= 0.25 AS kept
        |FROM q ORDER BY doc_id""".stripMargin)),

    // The 100 TB form of the percentile gate (round-14): EXACT
    // two-pass rank gate — (source, quality) histogram counts, BIGINT
    // boundary-rank arithmetic, boundary tiebreak selected inside one
    // value class, |sources|-row broadcast — NO full per-source sort.
    // The oracle replays the WINDOW form: hash-matching proves the
    // two derivations produce the identical keep set on real data.
    "q_quality_gate_scale" -> Query((s, d) => {
      val q = TextStats.addStats(docs(s, d), col("text"))
        .withColumn("quality", TextStats.qualityScore)
        .select(col("doc_id"), col("source"), col("quality"))
      graft.operators.Quantiles.rankGateTwoPass(q, col("source"),
          col("quality"), col("doc_id"), num = 1, den = 4)
        .select(col("_g").as("source"), col("_t").as("doc_id"),
          col("kept"))
        .orderBy("doc_id")
    },
      // q_quality_gate_scale: the oracle is the WINDOW form of the gate
      // — a hash match proves the sort-free two-pass derivation equals
      // the percent_rank gate row for row on the real corpus.
      Oracle("""WITH s AS (
        |  SELECT doc_id, source,
        |    len(string_split_regex(text, '[ \t\n\r\f]+')) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |      / length(text) AS punct_ratio,
        |    len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is|that)\b')) AS stopword_cnt
        |  FROM documents
        |),
        |q AS (
        |  SELECT doc_id, source,
        |    (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4)
        |    + ((1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3)
        |    + (least(CAST(stopword_cnt AS DOUBLE) * 10.0 / n_tokens, 1.0) * 0.3) AS quality
        |  FROM s
        |)
        |SELECT source, doc_id,
        |  (percent_rank() OVER (PARTITION BY source
        |    ORDER BY quality, doc_id)) >= 0.25 AS kept
        |FROM q ORDER BY doc_id""".stripMargin)),

    // The FULL batch web-corpus front, end to end (round-14): the
    // C4/CCNet stage order — canonicalize → host deny gate →
    // URL-location dedup (min-doc_id survivor) → quality gate →
    // content-fingerprint dedup — as ONE oracle-gated query (the
    // streaming twin is spec-pinned equal in CorpusIngestSpec). At
    // sf0.01 every stage bites: 12+ duplicate canonical locations,
    // 46/500 quality failures, the deny list kills two host families.
    "q_web_ingest" -> Query((s, d) => {
      // ONE documents scan: url + text projected together (a docUrls ⋈
      // docs self-join would read the corpus twice — the scan count is
      // the whole cost at 100 TB)
      val in = docs(s, d)
        .select(col("doc_id"), urlExpr.as("url"), col("text"))
        .withColumn("event_time", timestamp_micros(col("doc_id")))
      graft.streaming.CorpusIngest.ingestWeb(in,
          denyExact = Seq("www.src3.example.com"),
          denySuffixes = Seq("src7.example.com"), minQuality = 0.5)
        .select(col("doc_id"), col("url_canon"), col("host"),
          col("quality"), col("fp"))
        .orderBy("doc_id")
    },
      // q_web_ingest: the oracle replays the full stage chain — the
      // synthetic URL rebuild + canonicalization legs are q_url_canon's
      // (no userinfo leg: the grammar never emits '@', and the Spark
      // side's strip is identity there), the quality expression is
      // q_quality's, fp is q_fingerprint's, and both dedups are
      // min-doc_id row_number survivors in the PINNED stage order
      // (URL dedup BEFORE the quality gate).
      Oracle(s"""WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'HTTP' END)
        |      || '://WWW.' || source || '.Example.COM'
        |      || (CASE doc_id % 4 WHEN 0 THEN ':443' WHEN 1 THEN ':80'
        |          WHEN 2 THEN ':8080' ELSE '' END)
        |      || '/' || lang || '/Doc' || CAST(doc_id % 100 AS VARCHAR)
        |      || (CASE WHEN doc_id % 5 = 0 THEN ''
        |          ELSE '?z=' || CAST(doc_id AS VARCHAR)
        |            || '&a=' || CAST(doc_id % 7 AS VARCHAR) END)
        |      || (CASE WHEN doc_id % 4 = 0 THEN '#sec-' || lang
        |          ELSE '' END) AS url,
        |    text
        |  FROM documents),
        |p1 AS (SELECT doc_id, text, split_part(url, '#', 1) AS nofrag
        |  FROM u),
        |p2 AS (SELECT doc_id, text,
        |    lower(split_part(nofrag, '://', 1)) AS scheme,
        |    substr(nofrag, length(split_part(nofrag, '://', 1)) + 4)
        |      AS rest
        |  FROM p1),
        |p3 AS (SELECT *,
        |    split_part(split_part(rest, '/', 1), '?', 1) AS hostport,
        |    substr(rest, length(split_part(split_part(rest, '/', 1),
        |      '?', 1)) + 1) AS pathq
        |  FROM p2),
        |p4 AS (SELECT *,
        |    lower(split_part(hostport, ':', 1)) AS host,
        |    CASE WHEN contains(hostport, ':')
        |      THEN split_part(hostport, ':', 2) ELSE '' END AS port,
        |    split_part(pathq, '?', 1) AS path,
        |    CASE WHEN contains(pathq, '?')
        |      THEN substr(pathq, length(split_part(pathq, '?', 1)) + 2)
        |      ELSE '' END AS q
        |  FROM p3),
        |canon AS (SELECT doc_id, text, host,
        |  scheme || '://' || host
        |  || (CASE WHEN port <> ''
        |        AND NOT ((scheme = 'http' AND port = '80')
        |          OR (scheme = 'https' AND port = '443'))
        |      THEN ':' || port ELSE '' END)
        |  || path
        |  || (CASE WHEN q <> '' THEN '?' ||
        |        array_to_string(list_sort(string_split(q, '&')), '&')
        |      ELSE '' END) AS url_canon
        |  FROM p4
        |  WHERE NOT (host = 'www.src3.example.com'
        |    OR host = 'src7.example.com'
        |    OR host LIKE '%.src7.example.com')),
        |ud AS (SELECT * FROM (SELECT *,
        |    row_number() OVER (PARTITION BY url_canon ORDER BY doc_id)
        |      AS rn FROM canon) WHERE rn = 1),
        |qx AS (
        |  SELECT doc_id, url_canon, host, text,
        |    (least(CAST(len(string_split_regex(text, '[ \\t\\n\\r\\f]+'))
        |        AS DOUBLE) / 100.0, 1.0) * 0.4)
        |    + ((1.0 - least(CAST(len(regexp_extract_all(text,
        |        '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) * 5.0,
        |        1.0)) * 0.3)
        |    + (least(CAST(len(regexp_extract_all(text,
        |        '\\b(the|a|of|to|and|in|is|that)\\b')) AS DOUBLE) * 10.0
        |        / len(string_split_regex(text, '[ \\t\\n\\r\\f]+')), 1.0)
        |        * 0.3) AS quality
        |  FROM ud),
        |fd AS (SELECT * FROM (SELECT doc_id, url_canon, host, quality,
        |    $fpSql AS fp,
        |    row_number() OVER (PARTITION BY $fpSql ORDER BY doc_id)
        |      AS rn
        |  FROM qx WHERE quality >= 0.5) WHERE rn = 1)
        |SELECT doc_id, url_canon, host, quality, fp
        |FROM fd ORDER BY doc_id""".stripMargin)),

    // Host-level aggregation + robots-style deny gate over canonical
    // hosts: per-host doc counts / char mass / language spread, and
    // the blocked flag from an exact + suffix deny list (the
    // pre-text-gate filter every crawl pipeline runs). One map-side-
    // combined exchange on host (the only shuffle).
    "q_host_stats" -> Query((s, d) =>
      docUrls(s, d)
        .withColumn("host", graft.functions.UrlOps.hostOf(col("url")))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .withColumn("blocked", graft.functions.UrlOps.isBlockedHost(
          col("host"), exact = Seq("www.src3.example.com"),
          suffixes = Seq("src7.example.com")))
        .orderBy("host"),
      // q_host_stats: the URL build→parse leg is identity on host
      // (lower('WWW.'||source||'.Example.COM') — same contract as
      // q_parse_roundtrip), so the oracle derives host directly.
      Oracle("""SELECT host, count(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  (host = 'www.src3.example.com' OR host = 'src7.example.com'
        |    OR host LIKE '%.src7.example.com') AS blocked
        |FROM (SELECT 'www.' || source || '.example.com' AS host,
        |    lang, n_chars FROM documents)
        |GROUP BY host ORDER BY host""".stripMargin)),

    "q_lang_id" -> Query((s, d) =>
      TextStats.addLangId(docs(s, d), col("text"))
        .select(("doc_id" +: TextStats.stopwordProfiles.map(p => s"score_${p._1}") :+ "lang_pred").map(col): _*)
        .orderBy("doc_id"),
      Oracle(s"""SELECT doc_id, ${TextStats.stopwordProfiles.map(p => s"score_${p._1}").mkString(", ")},
         |  $langPredSql AS lang_pred
         |FROM (
         |  SELECT doc_id,
         |  $langScoresSql
         |  FROM documents
         |) ORDER BY doc_id""".stripMargin)),

    // Composite quality score over the stat columns — one small fixed
    // FP expression, mirrored exactly in the oracle.
    "q_quality" -> Query((s, d) =>
      TextStats.addStats(docs(s, d), col("text"))
        .withColumn("quality", TextStats.qualityScore)
        .select("doc_id", "quality")
        .orderBy("doc_id"),
      Oracle("""WITH s AS (
        |  SELECT doc_id,
        |    len(string_split_regex(text, '[ \t\n\r\f]+')) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |      / length(text) AS punct_ratio,
        |    len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is|that)\b')) AS stopword_cnt
        |  FROM documents
        |)
        |SELECT doc_id,
        |  (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4)
        |  + ((1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3)
        |  + (least(CAST(stopword_cnt AS DOUBLE) * 10.0 / n_tokens, 1.0) * 0.3) AS quality
        |FROM s ORDER BY doc_id""".stripMargin)),

    // Char-bigram n-gram language-ID variant (exact-parity scoring,
    // like the stopword profile).
    "q_lang_ngram" -> Query((s, d) =>
      TextStats.addCharNgramLangId(docs(s, d), col("text"))
        .select(("doc_id" +: TextStats.charNgramProfiles.map(p => s"ngram_${p._1}")
          :+ "lang_pred_ngram").map(col): _*)
        .orderBy("doc_id"),
      Oracle {
        val scores = TextStats.charNgramProfiles.map { case (lang, grams) =>
          s"""len(regexp_extract_all(lower(text), '(${grams.mkString("|")})')) AS ngram_$lang"""
        }.mkString(",\n  ")
        val langs = TextStats.charNgramProfiles.map(_._1)
        val cases = langs.init.zipWithIndex.map { case (lang, i) =>
          val cond = langs.drop(i + 1)
            .map(o => s"ngram_$lang >= ngram_$o").mkString(" AND ")
          s"WHEN $cond THEN '$lang'"
        }.mkString(" ")
        s"""SELECT doc_id, ${langs.map(l => s"ngram_$l").mkString(", ")},
           |  CASE $cases ELSE '${langs.last}' END AS lang_pred_ngram
           |FROM (SELECT doc_id,
           |  $scores
           |  FROM documents
           |) ORDER BY doc_id""".stripMargin
      }),

    "q_fingerprint" -> Query((s, d) =>
      docs(s, d)
        .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Oracle(s"SELECT doc_id, $fpSql AS fp FROM documents ORDER BY doc_id")),

    "q_dedup_exact" -> Query((s, d) =>
      Dedup.exactDedup(
          docs(s, d).withColumn("fp", TextStats.fingerprint(col("text"))),
          col("fp"), col("doc_id"))
        .select("doc_id", "fp")
        .orderBy("doc_id"),
      Oracle(s"""SELECT doc_id, fp FROM (
         |  SELECT doc_id, $fpSql AS fp,
         |    row_number() OVER (PARTITION BY $fpSql ORDER BY doc_id) AS rn
         |  FROM documents
         |) WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Bounded-state Bloom dedup — the BATCH surface of the streaming
    // twin (streaming/StreamingBloomDedup, the production answer to
    // unbounded dropDuplicates state): each fingerprint's first row,
    // via the sharded k-probe membership filter. The fixed hash
    // functions make the outcome deterministic, and at this corpus
    // the FP probability is ~1e-9 — so the gate equals exact dedup's
    // survivor set (the operator contract is emitted ⊆ exact, equal
    // whp; StreamingBloomDedupSpec pins the streaming side).
    "q_bloom_dedup" -> Query((s, d) => {
      val withFp = docs(s, d)
        .withColumn("fp", TextStats.fingerprint(col("text")))
      graft.streaming.StreamingBloomDedup.firstSeen(
          graft.streaming.StreamingBloomDedup.observations(
            withFp, col("fp"), col("doc_id"), shards = 8))
        .toDF()
        .select(col("key"), col("ord"))
        .orderBy("ord")
    },
      // the Bloom gate's oracle IS exact dedup: at this corpus the
      // filter's deterministic FP count is zero, so first-seen == the
      // min-doc_id survivor per fingerprint
      Oracle(s"""SELECT fp AS key, CAST(min(doc_id) AS BIGINT) AS ord
         |FROM (SELECT doc_id, $fpSql AS fp FROM documents)
         |GROUP BY fp ORDER BY ord""".stripMargin)),

    "q_dedup_near_pairs" -> Query((s, d) =>
      Dedup.nearDupPairs(docs(s, d), col("doc_id"), col("text"))
        .orderBy("doc_a", "doc_b"),
      Oracle(s"""WITH $shingleCte
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin)),

    // Incremental dedup — the daily-increment-vs-corpus shape (dedup
    // the NEW batch against the EXISTING corpus; never re-self-join
    // the history). Fixture split: doc_id % 10 picks the "new batch".
    "q_dedup_incremental" -> Query((s, d) => {
      val all = docs(s, d)
      Dedup.nearDupPairsAgainst(
          all.filter(col("doc_id") % 10 === 0),
          all.filter(col("doc_id") % 10 =!= 0),
          col("doc_id"), col("text"))
        .orderBy("doc_new", "doc_corpus")
    },
      Oracle("""WITH t AS (SELECT doc_id, string_split_regex(text, '[ \t\n\r\f]+') AS w FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                   for i in range(1, len(w)-1)]) AS sh
        |  FROM t
        |),
        |pairs AS (
        |  SELECT n.doc_id AS doc_new, c.doc_id AS doc_corpus,
        |    CAST(len(list_intersect(n.sh, c.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(n.sh, c.sh))) AS jaccard
        |  FROM (SELECT * FROM s WHERE doc_id % 10 = 0) n
        |  JOIN (SELECT * FROM s WHERE doc_id % 10 <> 0) c ON TRUE
        |)
        |SELECT doc_new, doc_corpus, jaccard FROM pairs
        |WHERE jaccard >= 0.8 ORDER BY doc_new, doc_corpus""".stripMargin)),

    // N-gram novelty gate — the continual-pretraining admission
    // metric: for each NEW-batch document, the fraction of its
    // distinct 5-grams never seen in the existing corpus (novelty 0 =
    // pure rehash, 1 = entirely new text). Same increment split as
    // q_dedup_incremental (doc_id % 10). The production shape: the
    // history compresses ONCE to its distinct-gram relation (reusable
    // across increments, vocabulary-sized not corpus-sized), each
    // increment LEFT-joins on the gram key — a hash join, never a
    // history self-join; per-doc rollup is one combinable aggregate.
    // The JOIN KEY is the hashed gram relation's xxhash64 key
    // (TermStats.gramKeys): the distinct and the join move 8-byte
    // longs instead of ~30-char gram strings, and the output is
    // gram-free, so the string-key DuckDB oracle gates it exactly.
    "q_ngram_novelty" -> Query((s, d) =>
      TermStats.novelty(corpusGrams(s, d), col("_id") % 10 === 0)
        .withColumnRenamed("_id", "doc_id")
        .orderBy("doc_id"),
      noveltyOracle),

    "q_dedup_near" -> Query((s, d) =>
      Dedup.nearDedup(docs(s, d), col("doc_id"), col("text"))
        .select("doc_id")
        .orderBy("doc_id"),
      Oracle(s"""WITH $shingleCte
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (
         |  SELECT DISTINCT doc_b FROM pairs WHERE jaccard >= 0.8)
         |ORDER BY doc_id""".stripMargin)),

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, MOSS):
    // the positional-guarantee dedup family — every shared token run
    // of >= window+shingleN-1 yields a shared fingerprint. Pairs
    // sharing >= 8 fingerprints, with fingerprint-set Jaccard.
    "q_winnow" -> Query((s, d) =>
      Dedup.winnowPairs(docs(s, d), col("doc_id"), col("text"))
        .orderBy("doc_a", "doc_b"),
      // winnowing replay: positional trigram md5-prefix hashes, sliding
      // min over each 4-gram window (1-based pos >= 4 == the engine's
      // 0-based pos >= 3), distinct fingerprints, fp-keyed pair counts
      Oracle("""WITH t AS (SELECT doc_id,
        |    string_split_regex(text, '[ \t\n\r\f]+') AS w
        |  FROM documents),
        |gg AS (SELECT doc_id, generate_subscripts(gs, 1) AS pos,
        |         unnest(gs) AS gram
        |  FROM (SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                        for i in range(1, len(w) - 1)] AS gs
        |        FROM t)),
        |gh AS (SELECT doc_id, pos,
        |    ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h FROM gg),
        |wm AS (SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM gh),
        |fp AS (SELECT DISTINCT doc_id, fp FROM wm WHERE pos >= 4),
        |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
        |       FROM fp GROUP BY 1),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(count(*) AS BIGINT) AS n_shared
        |       FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared, na.n_fp AS n_fp_a,
        |  nb.n_fp AS n_fp_b,
        |  CAST(n_shared AS DOUBLE) / (na.n_fp + nb.n_fp - n_shared)
        |    AS jaccard_fp
        |FROM pr
        |JOIN nf na ON na.doc_id = pr.doc_a
        |JOIN nf nb ON nb.doc_id = pr.doc_b
        |WHERE n_shared >= 8 ORDER BY doc_a, doc_b""".stripMargin)),

    // SQL-parity MinHash-LSH audit: the ONLY query whose oracle
    // recomputes the LSH *internals* — mod-p signatures, band keys,
    // candidate set, component-match estimate — rather than
    // brute-forcing the final pair set. One row per candidate pair
    // with the estimation-error / candidate-precision evidence.
    "q_lsh_parity" -> Query((s, d) =>
      Dedup.lshParityAudit(docs(s, d), col("doc_id"), col("text"))
        .orderBy("doc_a", "doc_b"),
      Oracle(lshParityOracle(16, 4))),

    // Near-dup pairs closed transitively into duplicate CLUSTERS via
    // distributed connected components (alternating large-star /
    // small-star; no adjacency lists, no driver-side graph). Every doc
    // is labeled with its cluster's min doc_id; singletons label
    // themselves. Oracle = recursive-CTE transitive closure over the
    // same brute-force pair set.
    "q_dedup_clusters" -> Query((s, d) =>
      graft.operators.Clusters
        .dedupClusters(docs(s, d), col("doc_id"), col("text"))
        .orderBy("doc_id"),
      // transitive closure of the >= 0.8 pair graph; cluster label = min
      // reachable doc_id (incl. self), singletons label themselves
      Oracle(s"""WITH RECURSIVE $shingleCte,
         |e AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs WHERE jaccard >= 0.8
         |  UNION ALL
         |  SELECT doc_b AS a, doc_a AS b FROM pairs WHERE jaccard >= 0.8
         |),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
         |),
         |lbl AS (SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY a)
         |SELECT d.doc_id,
         |  CAST(least(d.doc_id, coalesce(l.mn, d.doc_id)) AS BIGINT)
         |    AS cluster_id
         |FROM documents d LEFT JOIN lbl l USING (doc_id)
         |ORDER BY doc_id""".stripMargin)),

    // Canonical-survivor selection by QUALITY: each duplicate cluster
    // keeps its highest-quality member (ties to the smaller doc_id) —
    // the realistic dedup policy (min-id keeps an arbitrary member;
    // production pipelines keep the best). Composes clusters × quality
    // with a per-cluster rank — the tiny cluster relation side
    // broadcasts under AQE.
    "q_cluster_best" -> Query((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // §2.6 job-overlap experiment (round-18; r17 verdict #5) measured
      // and REJECTED: materializing the quality subtree from a second
      // thread (CompletableFuture + persistRows + count) while the CC
      // fixpoint runs read 3.07/2.01/2.13/2.21 s vs 2.02/1.74 s for
      // this sequential form (child-mode bench, sf0.1, interleaved
      // builds) — the quality scan is too cheap to pay the extra
      // persist copy + job, and the CC rounds leave little idle
      // capacity at this scale. Kept sequential; at cluster scale the
      // overlap belongs in the submission layer, not the query.
      val clusters = graft.operators.Clusters
        .dedupClusters(docs(s, d), col("doc_id"), col("text"))
      val quality = TextStats.addStats(docs(s, d), col("text"))
        .withColumn("quality", TextStats.qualityScore)
        .select("doc_id", "quality")
      clusters.join(quality, "doc_id")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cluster_id"))
            .orderBy(col("quality").desc, col("doc_id"))))
        .filter(col("rk") === 1)
        .select(col("cluster_id"), col("doc_id").as("best_doc_id"))
        .orderBy("cluster_id")
    },
      // clusters via the same recursive transitive closure as
      // q_dedup_clusters; survivor = argmax quality (q_quality's exact
      // formula), ties to the smaller doc_id
      Oracle(s"""WITH RECURSIVE $shingleCte,
         |e AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs WHERE jaccard >= 0.8
         |  UNION ALL
         |  SELECT doc_b AS a, doc_a AS b FROM pairs WHERE jaccard >= 0.8
         |),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
         |),
         |lbl AS (SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY a),
         |cl AS (
         |  SELECT d.doc_id,
         |    CAST(least(d.doc_id, coalesce(l.mn, d.doc_id)) AS BIGINT)
         |      AS cluster_id
         |  FROM documents d LEFT JOIN lbl l USING (doc_id)),
         |st AS (
         |  SELECT doc_id,
         |    len(string_split_regex(text, '[ \\t\\n\\r\\f]+')) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         |      / length(text) AS punct_ratio,
         |    len(regexp_extract_all(text, '\\b(the|a|of|to|and|in|is|that)\\b'))
         |      AS stopword_cnt
         |  FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4)
         |    + ((1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3)
         |    + (least(CAST(stopword_cnt AS DOUBLE) * 10.0 / n_tokens, 1.0)
         |       * 0.3) AS quality
         |  FROM st)
         |SELECT cluster_id, best_doc_id FROM (
         |  SELECT cl.cluster_id, cl.doc_id AS best_doc_id,
         |    row_number() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY q.quality DESC, cl.doc_id) AS rk
         |  FROM cl JOIN q ON cl.doc_id = q.doc_id)
         |WHERE rk = 1 ORDER BY cluster_id""".stripMargin)),

    // Benchmark decontamination: flag corpus docs sharing >= 50 word
    // trigrams with the held-out "benchmark" slice (doc_id % 10 == 8
    // stands in for an eval suite; the slice contains several planted
    // near-duplicate partners — an eval leak shares long spans, so the
    // threshold sits far above the fixture's incidental overlap).
    "q_decontaminate" -> Query((s, d) => {
      val all = docs(s, d)
      Dedup.contaminated(
          all.filter(col("doc_id") % 10 =!= 8),
          all.filter(col("doc_id") % 10 === 8),
          col("doc_id"), col("text"), n = 3, minShared = 50)
        .orderBy("doc_id")
    },
      // same word-trigram definition as the shingle CTE; benchmark =
      // doc_id % 10 == 8, threshold 50 shared distinct grams
      Oracle("""WITH t AS (SELECT doc_id, string_split_regex(text, '[ \t\n\r\f]+') AS w FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                   for i in range(1, len(w)-1)]) AS sh
        |  FROM t
        |),
        |bg AS (SELECT DISTINCT g
        |       FROM (SELECT unnest(sh) AS g FROM s WHERE doc_id % 10 = 8)),
        |cg AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 10 <> 8)
        |SELECT cg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM cg JOIN bg USING (g)
        |GROUP BY cg.doc_id HAVING COUNT(*) >= 50
        |ORDER BY doc_id""".stripMargin)),

    // Retrieval-style sliding-window chunking: overlapping 64-token
    // windows every 48 tokens, last window clamped to the doc end —
    // one generator explode, integer-exact.
    "q_chunk_windows" -> Query((s, d) =>
      graft.operators.Packing.slidingChunks(
          docs(s, d).select(col("doc_id"),
            size(split(col("text"), TextStats.WsRegex)).cast("long").as("nt")),
          col("doc_id"), col("nt"), window = 64, stride = 48)
        .select("doc_id", "n_tokens", "chunk_idx", "tok_start", "tok_end")
        .orderBy("doc_id", "chunk_idx"),
      Oracle("""WITH t AS (SELECT doc_id,
        |  CAST(len(string_split_regex(text, '[ \t\n\r\f]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |k AS (SELECT doc_id, n_tokens,
        |  CASE WHEN n_tokens <= 64 THEN 1
        |       ELSE CAST(floor((n_tokens - 64 + 47) / 48.0) AS BIGINT) + 1
        |  END AS nk
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * 48 AS BIGINT) AS tok_start,
        |  CAST(least(n_tokens, i * 48 + 64) AS BIGINT) AS tok_end
        |FROM k, unnest(range(0, nk)) AS u(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Sequence packing (concatenate-then-chunk): global token prefix
    // sum via the distributed scan, then 2048-token chunk assignment.
    "q_pack_chunks" -> Query((s, d) =>
      graft.operators.Packing.packChunks(
          docs(s, d).select(col("doc_id"),
            size(split(col("text"), TextStats.WsRegex)).cast("long").as("n_tokens")),
          col("doc_id"), col("n_tokens"), chunkTokens = 2048)
        .select("doc_id", "n_tokens", "cum_before", "chunk_id", "chunk_off")
        .orderBy("doc_id"),
      Oracle("""WITH t AS (SELECT doc_id,
        |  CAST(len(string_split_regex(text, '[ \t\n\r\f]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum_before
        |  FROM t)
        |SELECT doc_id, n_tokens, cum_before,
        |  cum_before // 2048 AS chunk_id,
        |  cum_before % 2048 AS chunk_off
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Deterministic content-addressed train/val/test assignment —
    // the reproducible replacement for randomSplit (which is
    // partitioning-dependent, hence rows-only checkable); this one is
    // a pure narrow projection with an exact arithmetic oracle.
    "q_split_assign" -> Query((s, d) =>
      graft.operators.Sampling.splitAssign(
          docs(s, d).select("doc_id"), col("doc_id"),
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .orderBy("doc_id"),
      Oracle("""WITH h AS (SELECT doc_id,
        |  (((((doc_id % 1000000007) * 2654435761) % 1000000007) + 40503)
        |     * 2654435761) % 1000000007 % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin)),

    // Unicode NFC normalization over the corpus — the canonical-form
    // cleaning step that makes composed and decomposed accents hash,
    // dedup, and join identically. Runs the native codegen
    // NfcNormalize kernel (zero-allocation fast path on
    // already-normalized text); DuckDB's nfc_normalize replays the
    // same UAX #15 composition, so the full normalized text column
    // hash-gates.
    "q_text_normalize" -> Query((s, d) => {
      val norm = org.apache.spark.sql.graft.Bridge.column(
        graft.functions.NfcNormalize(
          org.apache.spark.sql.graft.Bridge.expression(col("text"))))
      docs(s, d)
        .select(col("doc_id"), col("text"), norm.as("norm_text"))
        .select(col("doc_id"), col("norm_text"),
          (col("norm_text") =!= col("text")).as("changed"),
          length(col("norm_text")).cast("long").as("n_chars_norm"))
        .orderBy("doc_id")
    },
      Oracle("""SELECT doc_id, nfc_normalize(text) AS norm_text,
        |  nfc_normalize(text) <> text AS changed,
        |  CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Padding-efficient length-bucketed batching: sort the corpus by
    // token count (desc, id tie-break), cut into fixed-size batches of
    // 32, and report each batch's padding waste (padded = max_len ×
    // batch size vs real tokens) — the batch-assembly pass that turns
    // O(max_len) padding waste on a shuffled corpus into near-zero
    // waste on a length-sorted one. The global ordering rides the
    // two-phase prefix-sum machinery (range partition + per-partition
    // sums as offsets + one narrow pass), NOT a single-task global window,
    // so batch assignment over 10¹⁰ docs stays fully parallel.
    "q_batch_padding" -> Query((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        size(graft.operators.TermStats.cleanWords(col("text")))
          .cast("long").as("n_tokens"))
      graft.operators.Packing.withGlobalCumsum(toks,
          struct((-col("n_tokens")).as("m"), col("doc_id").as("t")),
          lit(1L), "_rank0")
        .withColumn("batch_id", expr("_rank0 DIV 32"))
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n_docs"),
          max(col("n_tokens")).as("max_len"),
          sum(col("n_tokens")).as("real_tokens"))
        .withColumn("padded_tokens", col("max_len") * col("n_docs"))
        .withColumn("waste_ppm",
          when(col("padded_tokens") === 0L, lit(0L))
            .otherwise(expr(
              "(padded_tokens - real_tokens) * 1000000 DIV padded_tokens")))
        .orderBy("batch_id")
    },
      Oracle("""WITH t AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
        |    w -> w <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |  row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rank0
        |  FROM t),
        |g AS (SELECT rank0 // 32 AS batch_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(n_tokens) AS BIGINT) AS max_len,
        |  CAST(sum(n_tokens) AS BIGINT) AS real_tokens
        |  FROM r GROUP BY 1)
        |SELECT batch_id, n_docs, max_len, real_tokens,
        |  max_len * n_docs AS padded_tokens,
        |  CASE WHEN max_len * n_docs = 0 THEN 0
        |       ELSE (max_len * n_docs - real_tokens) * 1000000
        |              // (max_len * n_docs) END AS waste_ppm
        |FROM g ORDER BY batch_id""".stripMargin)),

    // Train/val token-distribution drift audit: per-word ppm rates in
    // each content-addressed split, top-20 absolute drifts — the
    // distribution-shift check a pipeline runs after splitting to
    // catch a skewed partition before training on it. All-integer
    // (ppm = c·10⁶ DIV n), so exact; split totals are a 2-row
    // broadcast; ties break on the word for a deterministic top-k.
    "q_split_drift" -> Query((s, d) => {
      val sp = graft.operators.Sampling.splitAssign(
          docs(s, d).select("doc_id", "text"), col("doc_id"),
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .filter(col("split") =!= "test")
      val counts = sp
        .select(col("split"),
          explode(graft.operators.TermStats.cleanWords(col("text")))
            .as("w"))
        .groupBy("split", "w").agg(count(lit(1)).as("c"))
      val totals = counts.groupBy("split").agg(sum(col("c")).as("n"))
      counts.join(broadcast(totals), "split")
        .select(col("w"), col("split"), expr("c * 1000000 DIV n").as("ppm"))
        .groupBy("w")
        .agg(
          coalesce(max(when(col("split") === "train", col("ppm"))), lit(0L))
            .as("train_ppm"),
          coalesce(max(when(col("split") === "val", col("ppm"))), lit(0L))
            .as("val_ppm"))
        .withColumn("drift_ppm", abs(col("train_ppm") - col("val_ppm")))
        .orderBy(col("drift_ppm").desc, col("w"))
        .limit(20)
    },
      Oracle("""WITH h AS (SELECT doc_id, text,
        |  (((((doc_id % 1000000007) * 2654435761) % 1000000007) + 40503)
        |     * 2654435761) % 1000000007 % 100 AS bucket
        |  FROM documents),
        |sp AS (SELECT CASE WHEN bucket < 80 THEN 'train' ELSE 'val' END
        |         AS split, text
        |       FROM h WHERE bucket < 90),
        |t AS (SELECT split,
        |  unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS w FROM sp),
        |c AS (SELECT split, w, CAST(count(*) AS BIGINT) AS c
        |      FROM t WHERE w <> '' GROUP BY 1, 2),
        |n AS (SELECT split, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |r AS (SELECT c.w, c.split, c.c * 1000000 // n.n AS ppm
        |      FROM c JOIN n USING (split)),
        |wd AS (SELECT w,
        |  CAST(coalesce(max(CASE WHEN split = 'train' THEN ppm END), 0)
        |    AS BIGINT) AS train_ppm,
        |  CAST(coalesce(max(CASE WHEN split = 'val' THEN ppm END), 0)
        |    AS BIGINT) AS val_ppm
        |  FROM r GROUP BY w)
        |SELECT w, train_ppm, val_ppm,
        |  CAST(abs(train_ppm - val_ppm) AS BIGINT) AS drift_ppm
        |FROM wd ORDER BY drift_ppm DESC, w LIMIT 20""".stripMargin)),

    // Deterministic stratified sampling — corpus-mixing composition
    // control: keep 50% of English, 100% of Chinese, 25% of everything
    // else, content-addressed (a pure narrow filter; membership never
    // changes across runs, engines, or appends).
    "q_stratified_sample" -> Query((s, d) =>
      graft.operators.Sampling.stratifiedSample(
          docs(s, d).select("doc_id", "lang", "source"), col("lang"),
          col("doc_id"), Seq(("en", 0.5), ("zh", 1.0)),
          defaultFraction = 0.25)
        .orderBy("doc_id"),
      // Sampling.hashBucket spelled in exact BIGINT arithmetic (every
      // intermediate < 2^63 — see the operator's overflow note).
      Oracle("""WITH h AS (SELECT doc_id, lang, source,
        |  (((((doc_id % 1000000007) * 2654435761) % 1000000007) + 40503)
        |     * 2654435761) % 1000000007 % 1000000 AS hk
        |  FROM documents)
        |SELECT doc_id, lang, source FROM h
        |WHERE hk < CASE lang WHEN 'en' THEN 500000
        |                     WHEN 'zh' THEN 1000000
        |                     ELSE 250000 END
        |ORDER BY doc_id""".stripMargin)),

    // Deterministic fixed-size per-group sample: 20 docs per lang in
    // content-hash order — one shuffle, top-k window.
    "q_group_sample" -> Query((s, d) =>
      graft.operators.Sampling.groupSample(
          docs(s, d).select("doc_id", "lang"), col("lang"), col("doc_id"),
          20)
        .select("doc_id", "lang", "sample_rank")
        .orderBy("lang", "sample_rank"),
      Oracle("""WITH h AS (SELECT doc_id, lang,
        |  (((((doc_id % 1000000007) * 2654435761) % 1000000007) + 40503)
        |     * 2654435761) % 1000000007 % 1000000007 AS hk
        |  FROM documents),
        |r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id)
        |    AS sample_rank
        |  FROM h)
        |SELECT doc_id, lang, sample_rank FROM r
        |WHERE sample_rank <= 20 ORDER BY lang, sample_rank""".stripMargin)),

    // Relational TF-IDF: top-3 distinctive terms per doc. The raw
    // tfidf double stays internal: JVM StrictMath.log and DuckDB's
    // libm ln disagree in the last ulp on ~0.1% of the df domain
    // (measured), so the gate covers the integer/rank surface — a
    // rank flip would need two scores within 1 ulp of each other —
    // and TermStatsSpec pins the double values.
    "q_tfidf" -> Query((s, d) =>
      graft.operators.TermStats
        .tfidfTopTerms(docs(s, d), col("doc_id"), col("text"), 3)
        .select(col("_id").as("doc_id"), col("term"), col("tf"),
          col("df"), col("term_rank"))
        .orderBy("doc_id", "term_rank"),
      Oracle("""WITH t AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM t WHERE term <> '' GROUP BY doc_id, term),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |  CAST(tf.tf AS DOUBLE) * ln(CAST(nn AS DOUBLE) / CAST(df AS DOUBLE))
        |    AS tfidf
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, term_rank FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS term_rank
        |  FROM s)
        |WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin)),

    // HyperLogLog registers over corpus word 3-grams — the mergeable
    // distinct-count sketch as an exact-integer relation (see
    // operators/CardSketch for why every register and the harmonic
    // denominator are hash-gateable). Corpus-sized work is one
    // map-side-combinable max; the output is ≤ 256 rows.
    "q_hll_ngrams" -> Query((s, d) => {
      val grams = docs(s, d)
        .select(graft.operators.TermStats.cleanWords(col("text"))
          .as("_ws"))
        .select(explode(
          graft.operators.TermStats.ngrams(col("_ws"), 3)).as("gram"))
      graft.operators.CardSketch.hllRegisters(grams, col("gram"), 8)
        .orderBy("bucket")
    },
      Oracle("""WITH toks AS (SELECT
        |    list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
        |                w -> w <> '') AS ws
        |  FROM documents),
        |grams AS (SELECT unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |    for i in range(1, len(ws) - 1)]) AS gram
        |  FROM toks WHERE len(ws) >= 3),
        |h AS (SELECT CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)
        |        AS h FROM grams),
        |parts AS (SELECT h // 4503599627370496 AS bucket,
        |                 h % 4503599627370496 AS w FROM h)
        |SELECT bucket,
        |  CAST(max(CASE WHEN w = 0 THEN 53
        |                ELSE 53 - length(bin(w)) END) AS BIGINT) AS max_rho
        |FROM parts GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // The one-row HLL summary: exact scaled harmonic denominator +
    // the raw estimate (fixed-shape double over exact integers, the
    // chi-square recipe) + the exact distinct count as audit column.
    "q_hll_estimate" -> Query((s, d) => {
      val grams = docs(s, d)
        .select(graft.operators.TermStats.cleanWords(col("text"))
          .as("_ws"))
        .select(explode(
          graft.operators.TermStats.ngrams(col("_ws"), 3)).as("gram"))
      val est = graft.operators.CardSketch.hllEstimate(
        graft.operators.CardSketch.hllRegisters(grams, col("gram"), 8), 8)
      est.crossJoin(broadcast(
        grams.agg(count_distinct(col("gram")).as("n_exact"))))
        .select(col("n_used"), col("s_scaled"), col("n_empty"),
          col("estimate"), col("n_exact"))
    },
      Oracle("""WITH toks AS (SELECT
        |    list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
        |                w -> w <> '') AS ws
        |  FROM documents),
        |grams AS (SELECT unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |    for i in range(1, len(ws) - 1)]) AS gram
        |  FROM toks WHERE len(ws) >= 3),
        |h AS (SELECT CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)
        |        AS h FROM grams),
        |parts AS (SELECT h // 4503599627370496 AS bucket,
        |                 h % 4503599627370496 AS w FROM h),
        |regs AS (SELECT bucket,
        |    max(CASE WHEN w = 0 THEN 53
        |             ELSE 53 - length(bin(w)) END) AS max_rho
        |  FROM parts GROUP BY bucket),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_used,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(53 - max_rho AS INT))
        |      AS BIGINT) AS s_used
        |  FROM regs),
        |e AS (SELECT n_used,
        |    s_used + (256 - n_used) * CAST(9007199254740992 AS BIGINT)
        |      AS s_scaled,
        |    256 - n_used AS n_empty
        |  FROM s),
        |x AS (SELECT CAST(count(DISTINCT gram) AS BIGINT) AS n_exact
        |      FROM grams)
        |SELECT n_used, s_scaled, n_empty,
        |  (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) +
        |    CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))) *
        |  CAST(65536.0 AS DOUBLE) *
        |  (CAST(9007199254740992.0 AS DOUBLE) /
        |    CAST(s_scaled AS DOUBLE)) AS estimate,
        |  n_exact
        |FROM e, x""".stripMargin)),

    // Grouped HLL: distinct-3-gram estimate PER CORPUS SLICE (source)
    // — the dashboard deployment of the sketch (per-slice dedup-rate
    // monitoring). Same exact-integer registers/denominator as
    // q_hll_ngrams, one map-side-combinable rollup keyed
    // (source, bucket); the exact distinct is kept as audit column
    // (m = 64 ⇒ σ ≈ 13% per slice).
    "q_hll_by_source" -> Query((s, d) => {
      val grams = docs(s, d)
        .select(col("source"),
          graft.operators.TermStats.cleanWords(col("text")).as("_ws"))
        .select(col("source"), explode(
          graft.operators.TermStats.ngrams(col("_ws"), 3)).as("gram"))
      val den = graft.operators.CardSketch.hllDenominatorBy(
        graft.operators.CardSketch.hllRegistersBy(
          grams, col("source"), col("gram"), 6),
        col("_grp"), 6)
      den.join(grams.groupBy(col("source"))
            .agg(count_distinct(col("gram")).as("n_exact")),
          den("_grp") === col("source"))
        .select(col("source"), col("n_used"), col("s_scaled"),
          // α₆₄ = 0.709 — published small-m constant (CardSketch.alpha);
          // the asymptotic formula only applies from m = 128 up
          (lit(graft.operators.CardSketch.alpha(6)) *
            lit(4096.0) *
            (lit(36028797018963968.0) / col("s_scaled").cast("double")))
            .as("estimate"),
          col("n_exact"))
        .orderBy("source")
    },
      Oracle("""WITH toks AS (SELECT source,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
        |                w -> w <> '') AS ws
        |  FROM documents),
        |grams AS (SELECT source,
        |    unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |      for i in range(1, len(ws) - 1)]) AS gram
        |  FROM toks WHERE len(ws) >= 3),
        |h AS (SELECT source, CAST(('0x' || substr(md5(gram), 1, 15))
        |        AS BIGINT) AS h FROM grams),
        |parts AS (SELECT source, h // 18014398509481984 AS bucket,
        |                 h % 18014398509481984 AS w FROM h),
        |regs AS (SELECT source, bucket,
        |    max(CASE WHEN w = 0 THEN 55
        |             ELSE 55 - length(bin(w)) END) AS max_rho
        |  FROM parts GROUP BY source, bucket),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_used,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(55 - max_rho AS INT))
        |      AS BIGINT) AS s_used
        |  FROM regs GROUP BY source),
        |den AS (SELECT source, n_used,
        |    s_used + (64 - n_used) * CAST(36028797018963968 AS BIGINT)
        |      AS s_scaled
        |  FROM s),
        |x AS (SELECT source, CAST(count(DISTINCT gram) AS BIGINT)
        |        AS n_exact FROM grams GROUP BY source)
        |SELECT den.source, n_used, s_scaled,
        |  CAST(0.709 AS DOUBLE) *
        |  CAST(4096.0 AS DOUBLE) *
        |  (CAST(36028797018963968.0 AS DOUBLE) /
        |    CAST(s_scaled AS DOUBLE)) AS estimate,
        |  n_exact
        |FROM den JOIN x ON den.source = x.source
        |ORDER BY den.source""".stripMargin)),

    // HLL set algebra — the pairwise source-vocabulary overlap
    // matrix. Per-source registers are built ONCE (a single corpus
    // pass; ≤ m rows per source survive), every pair's |A∪B| comes
    // from the register-wise MAX (the defining HLL merge property —
    // union is EXACT on the sketch, not an approximation of it), and
    // |A∩B| by inclusion-exclusion over the three estimates
    // (Flajolet et al. 2007 §5). 20 sources → 190 pairs of ≤64-row
    // relations, so the overlap matrix costs one corpus scan
    // REGARDLESS of corpus size; the exact pairwise intersection
    // (a vocabulary-sized distinct-pair self-join that grows with
    // corpus) rides along only as the test-SF audit columns — at
    // 100 TB you keep the sketch side and drop the audit. Estimates
    // reuse the HLL family's fixed-shape double expression over
    // exact BIGINT denominators; inclusion-exclusion adds/subtracts
    // those doubles in one pinned order, so DuckDB replays every
    // column bit-for-bit. est_inter can go slightly negative for
    // near-disjoint sources (σ ≈ 13% at m = 64) — emitted raw, not
    // clamped: the sign itself is the calibration signal.
    "q_hll_overlap" -> Query((s, d) => {
      val mBits = 6
      val m = 1L << mBits                   // 64
      val wB = 60 - mBits                   // 54
      val top = 1L << (wB + 1)              // 2^55
      val est = (sc: Column) => lit(graft.operators.CardSketch.alpha(mBits)) *
        lit((m * m).toDouble) * (lit(top.toDouble) / sc.cast("double"))
      val words = docs(s, d).select(col("source"), explode(
        graft.operators.TermStats.cleanWords(col("text"))).as("w"))
      val regs = org.apache.spark.sql.graft.Bridge.persistRows(
        graft.operators.CardSketch
          .hllRegistersBy(words, col("source"), col("w"), mBits)
          .select(col("_grp").as("src"), col("bucket"), col("max_rho")))
      val den = graft.operators.CardSketch
        .hllDenominatorBy(regs, col("src"), mBits)
        .select(col("_grp").as("src"), col("s_scaled"))
      val srcs = regs.select(col("src")).distinct()
      // pair spine: tiny non-equi self-join (20 rows → 190 pairs);
      // broadcast keeps it a BNLJ, never a CartesianProduct
      val pairs = srcs.select(col("src").as("src_a"))
        .join(broadcast(srcs.select(col("src").as("src_b"))),
          col("src_a") < col("src_b"))
      // union registers: two equi-joins + union (hash-joinable —
      // no OR-condition nested loop), then register-wise max
      val uRegs = regs.join(broadcast(pairs), col("src") === col("src_a"))
        .select(col("src_a"), col("src_b"), col("bucket"), col("max_rho"))
        .unionByName(
          regs.join(broadcast(pairs), col("src") === col("src_b"))
            .select(col("src_a"), col("src_b"), col("bucket"),
              col("max_rho")))
        .groupBy(col("src_a"), col("src_b"), col("bucket"))
        .agg(max(col("max_rho")).as("max_rho"))
      val uDen = uRegs.groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_used"),
          sum(expr(s"shiftleft(CAST(1 AS BIGINT), " +
            s"CAST(${wB + 1} - max_rho AS INT))")).as("_s_used"))
        .select(col("src_a"), col("src_b"),
          (col("_s_used") + (lit(m) - col("n_used")) * lit(top))
            .as("s_union"))
      // exact audit columns (test-SF only luxuries at 100 TB)
      val sw = org.apache.spark.sql.graft.Bridge.persistRows(
        words.distinct())
      val nSrc = sw.groupBy(col("source"))
        .agg(count(lit(1)).as("n_exact"))
      val inter = sw.select(col("source").as("ia"), col("w"))
        .join(sw.select(col("source").as("ib"), col("w")), Seq("w"))
        .filter(col("ia") < col("ib"))
        .groupBy(col("ia"), col("ib"))
        .agg(count(lit(1)).as("n_inter"))
      uDen
        .join(broadcast(den.select(col("src").as("src_a"),
          col("s_scaled").as("s_a"))), Seq("src_a"))
        .join(broadcast(den.select(col("src").as("src_b"),
          col("s_scaled").as("s_b"))), Seq("src_b"))
        .join(broadcast(nSrc.select(col("source").as("src_a"),
          col("n_exact").as("n_a_exact"))), Seq("src_a"))
        .join(broadcast(nSrc.select(col("source").as("src_b"),
          col("n_exact").as("n_b_exact"))), Seq("src_b"))
        .join(broadcast(inter.select(col("ia").as("src_a"),
          col("ib").as("src_b"), col("n_inter"))),
          Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"),
          est(col("s_a")).as("est_a"),
          est(col("s_b")).as("est_b"),
          est(col("s_union")).as("est_union"),
          (est(col("s_a")) + est(col("s_b")) - est(col("s_union")))
            .as("est_inter"),
          col("n_a_exact"), col("n_b_exact"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter_exact"),
          (col("n_a_exact") + col("n_b_exact") -
            coalesce(col("n_inter"), lit(0L))).as("n_union_exact"))
        .orderBy("src_a", "src_b")
    },
      Oracle("""WITH toks AS (SELECT source,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
        |                w -> w <> '') AS ws
        |  FROM documents),
        |words AS (SELECT source, unnest(ws) AS w FROM toks),
        |h AS (SELECT source, CAST(('0x' || substr(md5(w), 1, 15))
        |        AS BIGINT) AS h FROM words),
        |parts AS (SELECT source, h // 18014398509481984 AS bucket,
        |                 h % 18014398509481984 AS v FROM h),
        |regs AS (SELECT source AS src, bucket,
        |    max(CASE WHEN v = 0 THEN 55
        |             ELSE 55 - length(bin(v)) END) AS max_rho
        |  FROM parts GROUP BY source, bucket),
        |dens AS (SELECT src,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(55 - max_rho AS INT))
        |      AS BIGINT)
        |    + (64 - CAST(count(*) AS BIGINT))
        |      * CAST(36028797018963968 AS BIGINT) AS s_scaled
        |  FROM regs GROUP BY src),
        |srcs AS (SELECT DISTINCT src FROM regs),
        |pairs AS (SELECT a.src AS src_a, b.src AS src_b
        |  FROM srcs a JOIN srcs b ON a.src < b.src),
        |uregs AS (SELECT p.src_a, p.src_b, r.bucket,
        |    max(r.max_rho) AS max_rho
        |  FROM pairs p JOIN regs r ON r.src = p.src_a OR r.src = p.src_b
        |  GROUP BY p.src_a, p.src_b, r.bucket),
        |uden AS (SELECT src_a, src_b,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(55 - max_rho AS INT))
        |      AS BIGINT)
        |    + (64 - CAST(count(*) AS BIGINT))
        |      * CAST(36028797018963968 AS BIGINT) AS s_union
        |  FROM uregs GROUP BY src_a, src_b),
        |sw AS (SELECT DISTINCT source, w FROM words),
        |nsrc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
        |  FROM sw GROUP BY source),
        |inter AS (SELECT x.source AS ia, y.source AS ib,
        |    CAST(count(*) AS BIGINT) AS n_inter
        |  FROM sw x JOIN sw y ON x.w = y.w AND x.source < y.source
        |  GROUP BY x.source, y.source)
        |SELECT u.src_a, u.src_b,
        |  CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
        |    * (CAST(36028797018963968.0 AS DOUBLE)
        |       / CAST(da.s_scaled AS DOUBLE)) AS est_a,
        |  CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
        |    * (CAST(36028797018963968.0 AS DOUBLE)
        |       / CAST(db.s_scaled AS DOUBLE)) AS est_b,
        |  CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
        |    * (CAST(36028797018963968.0 AS DOUBLE)
        |       / CAST(u.s_union AS DOUBLE)) AS est_union,
        |  (CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
        |    * (CAST(36028797018963968.0 AS DOUBLE)
        |       / CAST(da.s_scaled AS DOUBLE))
        |   + CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
        |    * (CAST(36028797018963968.0 AS DOUBLE)
        |       / CAST(db.s_scaled AS DOUBLE))
        |   - CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
        |    * (CAST(36028797018963968.0 AS DOUBLE)
        |       / CAST(u.s_union AS DOUBLE))) AS est_inter,
        |  na.n_exact AS n_a_exact,
        |  nb.n_exact AS n_b_exact,
        |  COALESCE(i.n_inter, 0) AS n_inter_exact,
        |  na.n_exact + nb.n_exact - COALESCE(i.n_inter, 0)
        |    AS n_union_exact
        |FROM uden u
        |JOIN dens da ON da.src = u.src_a
        |JOIN dens db ON db.src = u.src_b
        |JOIN nsrc na ON na.source = u.src_a
        |JOIN nsrc nb ON nb.source = u.src_b
        |LEFT JOIN inter i ON i.ia = u.src_a AND i.ib = u.src_b
        |ORDER BY src_a, src_b""".stripMargin)),

    // Materialized posting lists — the retrieval-index build next to
    // the scorers (tfidf/bm25): per-term df, total tf, and the
    // capped ascending doc-id list. See TermStats.invertedIndex for
    // the cap-vs-stopword scale contract. The typed array stays on
    // the operator API; the GATE surface serializes it to a comma
    // string because the driver's pandas canonicalization cannot
    // sort/hash array cells (r11's one red row).
    "q_inverted_index" -> Query((s, d) =>
      graft.operators.TermStats
        .invertedIndex(docs(s, d), col("doc_id"), col("text"), 5, 20)
        .withColumn("postings",
          concat_ws(",", col("postings").cast("array<string>")))
        .orderBy(col("df").desc, col("term")),
      Oracle("""WITH t AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM t WHERE term <> '' GROUP BY doc_id, term)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS tf_total,
        |  array_to_string((list(doc_id ORDER BY doc_id))[1:20], ',')
        |    AS postings
        |FROM tf GROUP BY term HAVING count(*) >= 5
        |ORDER BY df DESC, term""".stripMargin)),

    // Vocabulary-growth (Heaps'-law) audit: per-document new-term
    // count + running vocabulary size vs running token count, both
    // summed by one two-phase prefix scan (TermStats.vocabGrowth).
    // A flat curve = the slice is repeating itself.
    "q_vocab_growth" -> Query((s, d) =>
      graft.operators.TermStats
        .vocabGrowth(docs(s, d), col("doc_id"), col("text"))
        .orderBy("doc_id"),
      Oracle("""WITH t AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS term
        |  FROM documents),
        |tok AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS toks
        |        FROM t WHERE term <> '' GROUP BY doc_id),
        |fd AS (SELECT term, min(doc_id) AS fdoc
        |       FROM t WHERE term <> '' GROUP BY term),
        |nt AS (SELECT fdoc AS doc_id, CAST(count(*) AS BIGINT)
        |         AS new_terms FROM fd GROUP BY fdoc)
        |SELECT d.doc_id,
        |  coalesce(tok.toks, 0) AS toks,
        |  coalesce(nt.new_terms, 0) AS new_terms,
        |  CAST(sum(coalesce(tok.toks, 0)) OVER (ORDER BY d.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_toks,
        |  CAST(sum(coalesce(nt.new_terms, 0)) OVER (ORDER BY d.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS vocab_size
        |FROM documents d
        |LEFT JOIN tok ON d.doc_id = tok.doc_id
        |LEFT JOIN nt ON d.doc_id = nt.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // Positive-PMI collocations (Church & Hanks 1990) with the PMI
    // test as exact cross-multiplied BIGINTs — the float log ships as
    // its exact num/den pair instead of an ulp-fragile double (see
    // TermStats.pmiPairs).
    "q_pmi_pairs" -> Query((s, d) =>
      graft.operators.TermStats.pmiPairs(docs(s, d), col("text"), 5)
        .orderBy(col("c_xy").desc, col("x"), col("y")),
      Oracle("""WITH toks AS (SELECT
        |    list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
        |                w -> w <> '') AS ws
        |  FROM documents),
        |grams AS (SELECT unnest([ws[i] || ' ' || ws[i+1]
        |    for i in range(1, len(ws))]) AS g
        |  FROM toks WHERE len(ws) >= 2),
        |bi AS (SELECT split_part(g, ' ', 1) AS x,
        |    split_part(g, ' ', 2) AS y,
        |    CAST(count(*) AS BIGINT) AS c_xy
        |  FROM grams GROUP BY 1, 2),
        |lxt AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS lx
        |        FROM bi GROUP BY x),
        |ryt AS (SELECT y, CAST(sum(c_xy) AS BIGINT) AS ry
        |        FROM bi GROUP BY y),
        |tot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS b_total FROM bi)
        |SELECT bi.x, bi.y, c_xy, lx, ry, b_total,
        |  CAST(c_xy * b_total AS BIGINT) AS pmi_num,
        |  CAST(lx * ry AS BIGINT) AS pmi_den
        |FROM bi JOIN lxt USING (x) JOIN ryt USING (y), tot
        |WHERE c_xy >= 5 AND c_xy * b_total > lx * ry
        |ORDER BY c_xy DESC, x, y""".stripMargin)),

    // Per-source language-mix entropy under the unigram-LM bits
    // quantization — which corpus slices collapsed to one language
    // (ent_bits ~ 0) vs stayed diverse. Exact integer numerator, one
    // trailing division.
    "q_source_entropy" -> Query((s, d) =>
      graft.operators.TermStats
        .mixEntropy(docs(s, d), col("source"), col("lang"))
        .orderBy("grp"),
      Oracle("""WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_cats,
        |    CAST(sum(n * length(bin(n))) AS BIGINT) AS sum_cbits
        |  FROM c GROUP BY source)
        |SELECT source AS grp, n_rows, n_cats,
        |  CAST(n_rows * length(bin(n_rows)) - sum_cbits AS BIGINT)
        |    AS ent_num,
        |  CAST(CAST(n_rows * length(bin(n_rows)) - sum_cbits AS BIGINT)
        |      AS DOUBLE) / CAST(n_rows AS DOUBLE) AS ent_bits
        |FROM g ORDER BY grp""".stripMargin)),

    // BM25 top terms — the retrieval scorer TF-IDF approximates
    // (saturating tf, doc-length normalization). Gate surface is the
    // integer columns + rank, same contract as q_tfidf: the raw
    // double score is engine-ulp-sensitive, the rank only flips if
    // two scores collide within 1 ulp.
    "q_bm25" -> Query((s, d) =>
      graft.operators.TermStats
        .bm25TopTerms(docs(s, d), col("doc_id"), col("text"), 3)
        .select(col("_id").as("doc_id"), col("term"), col("tf"),
          col("df"), col("dl"), col("term_rank"))
        .orderBy("doc_id", "term_rank"),
      Oracle {
        // Interpolated k1+1 keeps the exact Scala double (round-trip
        // printed); bare fractional literals are DECIMAL in DuckDB, so
        // every constant is CAST to DOUBLE — the q_winsorize lesson.
        val a = s"CAST(${1.2 + 1.0} AS DOUBLE)"
        s"""WITH t AS (SELECT doc_id,
           |  unnest(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+')) AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           |       FROM t WHERE term <> '' GROUP BY doc_id, term),
           |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
           |         FROM tf GROUP BY doc_id),
           |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           |        FROM tf GROUP BY term),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
           |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS td FROM dlen),
           |s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df, dlen.dl,
           |  ln((nn - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))
           |      + CAST(1.0 AS DOUBLE)) *
           |    (tf * $a) /
           |    (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
           |      CAST(0.75 AS DOUBLE) * (dl / (CAST(td AS DOUBLE) / nn))))
           |    AS bm25
           |  FROM tf JOIN dfq USING (term) JOIN dlen USING (doc_id)
           |  CROSS JOIN n CROSS JOIN tot)
           |SELECT doc_id, term, tf, df, dl, term_rank FROM (
           |  SELECT *, row_number() OVER
           |    (PARTITION BY doc_id ORDER BY bm25 DESC, term) AS term_rank
           |  FROM s)
           |WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin
      }),

    // CCNet-style LM-quality signal: per-doc average unigram surprisal
    // against the corpus's own unigram model, integer-quantized
    // (bit-length log2) so the whole score is exact BIGINT arithmetic
    // — see TermStats.unigramSurprisal's quantization contract.
    "q_unigram_lm" -> Query((s, d) =>
      graft.operators.TermStats
        .unigramSurprisal(docs(s, d), col("doc_id"), col("text"))
        .withColumnRenamed("_id", "doc_id")
        .orderBy("doc_id"),
      Oracle("""WITH t AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM t WHERE term <> '' GROUP BY doc_id, term),
        |c AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt
        |      FROM tf GROUP BY term),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS nt FROM c),
        |s AS (SELECT tf.doc_id, tf.tf,
        |  CAST(length(bin(nt)) - length(bin(cnt)) AS BIGINT) AS sbits
        |  FROM tf JOIN c USING (term) CROSS JOIN n)
        |SELECT doc_id,
        |  CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(tf * sbits) AS BIGINT) AS total_bits,
        |  CAST(sum(tf * sbits) AS BIGINT) * 100
        |    // CAST(sum(tf) AS BIGINT) AS avg_centibits
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Order-2 refinement: conditional bigram surprisal — the
    // KenLM-style filter signal that catches common words in
    // uncommon ORDERS, where the unigram model is blind.
    "q_bigram_lm" -> Query((s, d) =>
      graft.operators.TermStats
        .bigramSurprisal(docs(s, d), col("doc_id"), col("text"))
        .withColumnRenamed("_id", "doc_id")
        .orderBy("doc_id"),
      Oracle("""WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
        |    w -> w <> '') AS ws FROM documents),
        |b AS (SELECT doc_id,
        |  unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS bg
        |  FROM w),
        |tf AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS tf
        |       FROM b GROUP BY doc_id, bg),
        |c AS (SELECT bg, CAST(sum(tf) AS BIGINT) AS cnt
        |      FROM tf GROUP BY bg),
        |p AS (SELECT split_part(bg, ' ', 1) AS pre,
        |  CAST(sum(cnt) AS BIGINT) AS pcnt FROM c GROUP BY 1),
        |s AS (SELECT tf.doc_id, tf.tf,
        |  CAST(length(bin(pcnt)) - length(bin(cnt)) AS BIGINT) AS sbits
        |  FROM tf JOIN c USING (bg)
        |  JOIN p ON split_part(tf.bg, ' ', 1) = p.pre)
        |SELECT doc_id,
        |  CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  CAST(sum(tf * sbits) AS BIGINT) AS total_bits,
        |  CAST(sum(tf * sbits) AS BIGINT) * 100
        |    // CAST(sum(tf) AS BIGINT) AS avg_centibits
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // CCNet head/middle/tail perplexity bucketing (Wenzek et al.
    // 2020): per-source terciles of the unigram-LM surprisal —
    // head = most fluent third. The tercile boundaries come from the
    // histogram rank machinery (Quantiles.rankBoundary), each a
    // |sources|-row broadcast: NO per-source corpus sort anywhere.
    "q_ccnet_buckets" -> Query((s, d) =>
      graft.operators.TermStats
        .ccnetBuckets(docs(s, d), col("doc_id"), col("text"),
          col("source"))
        .select(col("_id").as("doc_id"), col("grp").as("source"),
          col("avg_centibits"), col("bucket"))
        .orderBy("doc_id"),
      // replays the unigram-surprisal CTEs, then the integer tercile
      // rule (rn−1)·3 ≥ num·(n−1) — the exact BIGINT equivalent of
      // percent_rank ≥ num/3 under (avg_centibits, doc_id) ordering;
      // n = 1 groups are head (pr = 0), matching the Spark gate's
      // single-row convention
      Oracle("""WITH t AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM t WHERE term <> '' GROUP BY doc_id, term),
        |c AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt
        |      FROM tf GROUP BY term),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS nt FROM c),
        |s AS (SELECT tf.doc_id, tf.tf,
        |  CAST(length(bin(nt)) - length(bin(cnt)) AS BIGINT) AS sbits
        |  FROM tf JOIN c USING (term) CROSS JOIN n),
        |u AS (SELECT doc_id,
        |  CAST(sum(tf * sbits) AS BIGINT) * 100
        |    // CAST(sum(tf) AS BIGINT) AS avg_centibits
        |  FROM s GROUP BY doc_id),
        |j AS (SELECT u.doc_id, d.source, u.avg_centibits
        |      FROM u JOIN documents d USING (doc_id)),
        |r AS (SELECT doc_id, source, avg_centibits,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY avg_centibits, doc_id) AS BIGINT) AS rn,
        |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM j)
        |SELECT doc_id, source, avg_centibits,
        |  CASE WHEN n > 1 AND (rn - 1) * 3 >= (n - 1) * 2 THEN 'tail'
        |       WHEN n > 1 AND (rn - 1) * 3 >= (n - 1) THEN 'middle'
        |       ELSE 'head' END AS bucket
        |FROM r ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition gates: duplicate word / bigram fractions
    // and heaviest-gram counts per doc.
    "q_repetition" -> Query((s, d) =>
      graft.operators.TermStats
        .repetitionStats(docs(s, d), col("doc_id"), col("text"))
        .withColumnRenamed("_id", "doc_id")
        .orderBy("doc_id"),
      Oracle("""WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
        |    w -> w <> '') AS ws FROM documents),
        |wc AS (SELECT doc_id, word, count(*) AS c
        |       FROM (SELECT doc_id, unnest(ws) AS word FROM w)
        |       GROUP BY doc_id, word),
        |wp AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |  CAST(count(*) AS BIGINT) AS n_distinct_words,
        |  CAST(max(c) AS BIGINT) AS top_word_cnt
        |  FROM wc GROUP BY doc_id),
        |bg AS (SELECT doc_id,
        |  [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] AS bs
        |  FROM w),
        |bc AS (SELECT doc_id, bigram, count(*) AS c
        |       FROM (SELECT doc_id, unnest(bs) AS bigram FROM bg)
        |       GROUP BY doc_id, bigram),
        |bp AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
        |  CAST(max(c) AS BIGINT) AS top_bigram_cnt
        |  FROM bc GROUP BY doc_id)
        |SELECT doc_id, n_words, n_distinct_words, top_word_cnt,
        |  CAST(n_words - n_distinct_words AS DOUBLE)
        |    / CAST(n_words AS DOUBLE) AS dup_word_frac,
        |  n_bigrams, n_distinct_bigrams, top_bigram_cnt,
        |  CAST(n_bigrams - n_distinct_bigrams AS DOUBLE)
        |    / CAST(n_bigrams AS DOUBLE) AS dup_bigram_frac
        |FROM wp JOIN bp USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // Cross-document duplicated 5-gram share — the substring-level
    // dedup signal (Lee et al. 2021) that doc-level MinHash misses:
    // per doc, how many of its 5-gram positions recur in ANOTHER doc.
    // Every gram occurrence is a row of the hashed gram relation.
    "q_shared_ngrams" -> Query((s, d) =>
      TermStats.sharedGramRollup(TermStats.gramKeys(docs(s, d),
          col("doc_id"), col("text"), 5, distinct = false))
        .withColumnRenamed("_id", "doc_id")
        .orderBy("doc_id"),
      sharedNgramsOracle),

    // Eval-set CONTAMINATION AUDIT (Brown et al. 2020, GPT-3
    // appendix C): per TRAINING doc, distinct-5-gram overlap FRACTION
    // with the held-out eval slice (doc_id % 17) — the graded
    // test-set-leakage relation a pipeline inspects before picking
    // q_decontaminate's drop threshold (that query flags; this one
    // measures everyone). Same hashed gram relation and key
    // narrowing as q_ngram_novelty. The fixture's planted near-dups
    // ARE the leakage this catches (two train docs contaminated at
    // 96-100%).
    "q_contam_audit" -> Query((s, d) =>
      TermStats.contamination(corpusGrams(s, d), col("_id") % 17 === 0)
        .withColumnRenamed("_id", "doc_id")
        .orderBy("doc_id"),
      contamOracle),

    // The contamination audit over a PERSISTED gram table (the
    // artifact pattern applied to grams — one corpus tokenization
    // materialized, N leakage audits consume it): built only if
    // absent, bucketed on the xxhash64 gram key so neither the
    // eval-key distinct nor the train-side join shuffles the corpus
    // grams. Shares q_contam_audit's oracle verbatim — the hash match
    // proves table-audit ≡ inline-audit end to end.
    "q_contam_artifact" -> Query((s, d) =>
      TermStats.contamination(s.table(gramArtifact(s, d, 5)),
          col("_id") % 17 === 0)
        .withColumnRenamed("_id", "doc_id")
        .orderBy("doc_id"),
      contamOracle),

    // The spans substring-dedup would TRIM (Lee et al. 2021): maximal
    // runs of cross-document duplicated 5-grams per doc — the
    // gaps-and-islands pattern on the positional gram relation.
    "q_dedup_spans" -> Query((s, d) =>
      TermStats.sharedGramSpans(TermStats.gramPositions(docs(s, d),
          col("doc_id"), col("text"), 5), 5)
        .withColumnRenamed("_id", "doc_id")
        .orderBy("doc_id", "span_start"),
      dedupSpansOracle),

    // The novelty gate over the PERSISTED gram table (round-17; the
    // q_contam_artifact pattern extended to the whole gram-consuming
    // family): zero tokenization, the base distinct and the LEFT
    // join both inside the table's bucketing. Shares q_ngram_novelty's
    // oracle verbatim — the hash match proves table ≡ inline.
    "q_novelty_artifact" -> Query((s, d) =>
      TermStats.novelty(s.table(gramArtifact(s, d, 5)),
          col("_id") % 10 === 0)
        .withColumnRenamed("_id", "doc_id")
        .orderBy("doc_id"),
      noveltyOracle),

    // Cross-document duplicated-gram share over the PERSISTED
    // positional gram table — q_shared_ngrams' steady-state twin
    // (oracle shared verbatim): both gram aggregations run
    // exchange-free inside the bucketing; only the |docs|-row rollup
    // shuffles.
    "q_shared_artifact" -> Query((s, d) =>
      TermStats.sharedGramRollup(s.table(gramPosArtifact(s, d, 5)))
        .withColumnRenamed("_id", "doc_id")
        .orderBy("doc_id"),
      sharedNgramsOracle),

    // Trim spans over the PERSISTED positional gram table —
    // q_dedup_spans' steady-state twin (oracle shared verbatim): the
    // doc-frequency gate and position join stay inside the bucketing;
    // only the per-doc gaps-and-islands window shuffles.
    "q_spans_artifact" -> Query((s, d) =>
      TermStats.sharedGramSpans(s.table(gramPosArtifact(s, d, 5)), 5)
        .withColumnRenamed("_id", "doc_id")
        .orderBy("doc_id", "span_start"),
      dedupSpansOracle),

    // Weight-proportional deterministic sampling: keep probability
    // min(n_chars, 1000)/1000 — longer docs kept proportionally more,
    // capped at 1. Integer threshold arithmetic end-to-end, so the
    // draw is exact cross-engine and the filter sits at the scan.
    "q_importance_sample" -> Query((s, d) =>
      graft.operators.Sampling.importanceSample(
          docs(s, d).select("doc_id", "n_chars"), col("doc_id"),
          least(col("n_chars"), lit(1000L)) * lit(1000L))
        .select("doc_id", "n_chars", "keep_bucket")
        .orderBy("doc_id"),
      Oracle("""WITH h AS (SELECT doc_id, n_chars,
        |  (((((doc_id % 1000000007) * 2654435761) % 1000000007) + 40503)
        |     * 2654435761) % 1000000007 % 1000000 AS keep_bucket
        |  FROM documents)
        |SELECT doc_id, n_chars, keep_bucket FROM h
        |WHERE keep_bucket < least(n_chars, 1000) * 1000
        |ORDER BY doc_id""".stripMargin)),

    // Corpus mixture planning + enforcement in one query: equal
    // char-budget per source (the static composition-control step of
    // corpus mixing) — per-source totals → integer keep threshold
    // thr = min(1, target/source_chars) at 10⁻⁴ granularity, scaled to
    // the 10⁶ bucket domain — then the content-addressed sampler
    // applies it. The planning relation is |sources| rows (broadcast);
    // enforcement is the pure narrow filter. All-integer arithmetic
    // (exact while total chars < 2⁶³/10⁴ ≈ 1 PB of text; beyond that,
    // plan per shard or drop the granularity).
    "q_mixture_sample" -> Query((s, d) => {
      val docs0 = docs(s, d).select("doc_id", "source", "n_chars")
      val totals = docs0.groupBy("source")
        .agg(sum("n_chars").as("src_chars"))
      val plan = totals.crossJoin(broadcast(totals
          .agg(sum(col("src_chars")).as("all_chars"),
            count(lit(1)).as("n_src"))))
        .select(col("source"),
          least(lit(1000000L),
            expr("((all_chars div n_src) * 10000 div src_chars) * 100"))
            .as("thr"))
      graft.operators.Sampling.importanceSample(
          docs0.join(broadcast(plan), "source"), col("doc_id"), col("thr"))
        .select("doc_id", "source", "keep_bucket", "thr")
        .orderBy("doc_id")
    },
      Oracle("""WITH t AS (SELECT source,
        |    CAST(sum(n_chars) AS BIGINT) AS src_chars
        |  FROM documents GROUP BY 1),
        |a AS (SELECT CAST(sum(src_chars) AS BIGINT) AS all_chars,
        |    count(*) AS n_src FROM t),
        |p AS (SELECT source, CAST(least(1000000,
        |    ((a.all_chars // a.n_src) * 10000 // t.src_chars) * 100)
        |    AS BIGINT) AS thr
        |  FROM t, a),
        |h AS (SELECT doc_id, source,
        |  (((((doc_id % 1000000007) * 2654435761) % 1000000007) + 40503)
        |     * 2654435761) % 1000000007 % 1000000 AS keep_bucket
        |  FROM documents)
        |SELECT h.doc_id, h.source, h.keep_bucket, p.thr
        |FROM h JOIN p USING (source)
        |WHERE h.keep_bucket < p.thr
        |ORDER BY doc_id""".stripMargin)),

    // Temperature-scaled corpus mixing (α = 1/2): target share per
    // source ∝ src_chars^α — the standard low-resource up-sampling
    // rule for multilingual/multi-source corpora (between α=0 equal
    // budgets, q_mixture_sample, and α=1 natural proportions). α = 1/2
    // is the one fractional exponent with an exact cross-engine form:
    // sqrt is IEEE correctly-rounded in BOTH engines (pow is not), so
    // w_i = FLOOR(SQRT(CAST(src_chars AS DOUBLE))) is bit-identical
    // (and the cast exact while src_chars < 2^53 ≈ 9 PB/source).
    // Target chars tgt_i = all·w_i/Σw evaluate in the overflow-safe
    // split order (all div Σw)·w_i + (all mod Σw)·w_i div Σw — exact
    // BIGINTs while tgt·10⁴ < 2^63 (≈ 900 PB of text); then the same
    // 10⁻⁴-granularity integer threshold and content-addressed
    // sampler as q_mixture_sample. Planning stays a |sources|-row
    // broadcast; enforcement is the narrow scan filter.
    "q_mixture_temperature" -> Query((s, d) => {
      val docs0 = docs(s, d).select("doc_id", "source", "n_chars")
      val plan = graft.operators.Sampling.temperatureMixPlan(
        docs0.groupBy("source").agg(sum("n_chars").as("src_chars")))
      graft.operators.Sampling.importanceSample(
          docs0.join(broadcast(plan), "source"), col("doc_id"), col("thr"))
        .select("doc_id", "source", "keep_bucket", "thr")
        .orderBy("doc_id")
    },
      Oracle("""WITH t AS (SELECT source,
        |    CAST(sum(n_chars) AS BIGINT) AS src_chars
        |  FROM documents GROUP BY 1),
        |tw AS (SELECT source, src_chars,
        |    CAST(floor(sqrt(CAST(src_chars AS DOUBLE))) AS BIGINT) AS w
        |  FROM t),
        |a AS (SELECT CAST(sum(src_chars) AS BIGINT) AS all_chars,
        |    CAST(sum(w) AS BIGINT) AS sw FROM tw),
        |p AS (SELECT source, CAST(least(1000000,
        |    (((a.all_chars // a.sw) * tw.w
        |       + (a.all_chars % a.sw) * tw.w // a.sw)
        |      * 10000 // tw.src_chars) * 100) AS BIGINT) AS thr
        |  FROM tw, a),
        |h AS (SELECT doc_id, source,
        |  (((((doc_id % 1000000007) * 2654435761) % 1000000007) + 40503)
        |     * 2654435761) % 1000000007 % 1000000 AS keep_bucket
        |  FROM documents)
        |SELECT h.doc_id, h.source, h.keep_bucket, p.thr
        |FROM h JOIN p USING (source)
        |WHERE h.keep_bucket < p.thr
        |ORDER BY doc_id""".stripMargin)),

    // DSIR (Xie et al. 2023) — importance resampling for pretraining
    // data selection: target-slice (lang = 'en') vs raw-corpus hashed
    // char-trigram bucket models, bit-length-quantized per-doc
    // log-likelihood-ratio, power-of-two keep threshold, content-
    // addressed draw. The AUDIT relation gates (every doc with its
    // weight, threshold, draw, and kept verdict), so model fitting,
    // weighting, AND the resampling decisions are all hash-pinned —
    // the kept subset is Dsir.resample's output. Models are one
    // 64-row broadcast; one corpus gram scan; no RNG state anywhere.
    "q_dsir_sample" -> Query((s, d) => {
      val w = graft.operators.Dsir.importanceWeights(docs(s, d),
        col("doc_id"), col("text"), col("lang") === "en")
      graft.operators.Dsir.resampleAudit(w, col("doc_id"))
        .select("doc_id", "n_feats", "logw_bits", "thr",
          "keep_bucket", "kept")
        .orderBy("doc_id")
    },
      // DSIR replay: md5-bucket trigram features (the q_hash_classifier
      // kernel), add-1-smoothed target/raw bucket models, bit-length
      // log2 quantization (the q_unigram_lm contract), power-of-two
      // threshold, and the content-addressed draw — exact BIGINTs end
      // to end
      Oracle("""WITH grams AS (
        |  SELECT doc_id, lang,
        |    unnest([substr(lower(text), i, 3)
        |            for i in range(1, length(text) - 1)]) AS g
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 3),
        |feats AS (
        |  SELECT doc_id, lang = 'en' AS tgt,
        |    ('0x' || substr(md5(g), 1, 15))::BIGINT % 64 AS b,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM grams GROUP BY doc_id, tgt, b),
        |model AS (
        |  SELECT b, CAST(sum(cnt) AS BIGINT) AS raw_b,
        |    CAST(sum(CASE WHEN tgt THEN cnt ELSE 0 END) AS BIGINT) AS tgt_b
        |  FROM feats GROUP BY b),
        |tot AS (SELECT CAST(sum(raw_b) AS BIGINT) AS r,
        |               CAST(sum(tgt_b) AS BIGINT) AS t FROM model),
        |sb AS (SELECT b,
        |  CAST(length(bin(tgt_b + 1)) - length(bin(raw_b + 1)) AS BIGINT) AS s
        |  FROM model),
        |lw AS (
        |  SELECT f.doc_id, CAST(sum(f.cnt) AS BIGINT) AS n_feats,
        |    CAST(sum(f.cnt * (sb.s + length(bin(tot.r + 64))
        |      - length(bin(tot.t + 64)))) AS BIGINT) AS logw_bits
        |  FROM feats f JOIN sb USING (b) CROSS JOIN tot
        |  GROUP BY f.doc_id),
        |mx AS (SELECT max(logw_bits) AS m FROM lw),
        |thr AS (
        |  SELECT doc_id, n_feats, logw_bits,
        |    CASE WHEN m - logw_bits >= 20 THEN CAST(0 AS BIGINT)
        |         ELSE 1000000 // (CAST(1 AS BIGINT)
        |           << CAST(m - logw_bits AS INT)) END AS thr
        |  FROM lw CROSS JOIN mx)
        |SELECT doc_id, n_feats, logw_bits, thr,
        |  (((((doc_id % 1000000007) * 2654435761) % 1000000007) + 40503)
        |     * 2654435761) % 1000000007 % 1000000 AS keep_bucket,
        |  (((((doc_id % 1000000007) * 2654435761) % 1000000007) + 40503)
        |     * 2654435761) % 1000000007 % 1000000 < thr AS kept
        |FROM thr ORDER BY doc_id""".stripMargin)),

    // CAPSTONE — the whole training-corpus pipeline as ONE declarative
    // query: quality gate → blocklist gate → near-dup clustering over
    // the survivors → best-quality survivor per duplicate cluster →
    // deterministic split assignment. Catalyst plans across all five
    // stages (gates push into the scans feeding the sketch joins);
    // the oracle recomputes every stage independently in SQL.
    "q_corpus_pipeline" -> Query((s, d) => {
      val gated = TextStats.addStats(docs(s, d), col("text"))
        .withColumn("quality", TextStats.qualityScore)
        .filter(col("quality") >= 0.55)
        .filter(TextStats.stopwordCount(lower(col("text")),
          Seq("slow")) === 0)
      val clusters = graft.operators.Clusters
        .dedupClusters(gated, col("doc_id"), col("text"))
      val best = clusters
        .join(gated.select("doc_id", "quality"), "doc_id")
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster_id"))
            .orderBy(col("quality").desc, col("doc_id"))))
        .filter(col("rk") === 1)
      graft.operators.Sampling.splitAssign(
          best.select("doc_id"), col("doc_id"),
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .select("doc_id", "split")
        .orderBy("doc_id")
    },
      // every stage recomputed independently: quality formula, blocklist
      // regex, trigram-shingle brute-force pairs over the GATED corpus,
      // recursive transitive closure, quality-argmax survivor, hash split
      Oracle("""WITH RECURSIVE
        |st AS (
        |  SELECT doc_id, text,
        |    len(string_split_regex(text, '[ \t\n\r\f]+')) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |      / length(text) AS punct_ratio,
        |    len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is|that)\b'))
        |      AS stopword_cnt
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, text,
        |    (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4)
        |    + ((1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3)
        |    + (least(CAST(stopword_cnt AS DOUBLE) * 10.0 / n_tokens, 1.0)
        |       * 0.3) AS quality
        |  FROM st
        |  WHERE (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4)
        |    + ((1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3)
        |    + (least(CAST(stopword_cnt AS DOUBLE) * 10.0 / n_tokens, 1.0)
        |       * 0.3) >= 0.55
        |    AND len(regexp_extract_all(lower(text), '\b(slow)\b')) = 0),
        |t AS (SELECT doc_id, string_split_regex(text, '[ \t\n\r\f]+') AS w FROM g),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                   for i in range(1, len(w)-1)]) AS sh
        |  FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |e AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs WHERE jaccard >= 0.8
        |  UNION ALL
        |  SELECT doc_b AS a, doc_a AS b FROM pairs WHERE jaccard >= 0.8),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |lbl AS (SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY a),
        |cl AS (
        |  SELECT g.doc_id,
        |    CAST(least(g.doc_id, coalesce(l.mn, g.doc_id)) AS BIGINT)
        |      AS cluster_id, g.quality
        |  FROM g LEFT JOIN lbl l ON g.doc_id = l.doc_id),
        |best AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY quality DESC, doc_id) AS rk
        |    FROM cl) WHERE rk = 1)
        |SELECT doc_id,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  (((((doc_id % 1000000007) * 2654435761) % 1000000007) + 40503)
        |     * 2654435761) % 1000000007 % 100 AS b
        |  FROM best)
        |ORDER BY doc_id""".stripMargin)),

    // Blocklist gating (the policy-filter stage of a corpus pipeline):
    // per-doc count of whole-word blocklist hits via the single-pass
    // WordSetCount kernel in a FILTER position — flagged docs out,
    // narrow scan, zero shuffles below the output sort.
    "q_blocklist" -> Query((s, d) => {
      val hits = TextStats.stopwordCount(lower(col("text")),
        Seq("slow", "error", "merge"))
      docs(s, d)
        .select(col("doc_id"), hits.as("n_blocked"))
        .filter(col("n_blocked") > 0)
        .orderBy("doc_id")
    },
      Oracle("""SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '\b(slow|error|merge)\b')) AS BIGINT) AS n_blocked
        |FROM documents
        |WHERE len(regexp_extract_all(lower(text),
        |    '\b(slow|error|merge)\b')) > 0
        |ORDER BY doc_id""".stripMargin)),

    // PII ANONYMIZATION (the BigScience-ROOTS / FineWeb regex pass):
    // per-category detection counts + typed-placeholder redaction.
    // The fixture text carries no PII, so deterministic contact lines
    // are synthesized from the fixture columns (the urlExpr precedent
    // — every rule gets hit by construction). Rules restricted to the
    // Java/RE2-common regex subset, so the scrub ITSELF (not just the
    // counts) is oracle-checkable string for string. Pure narrow
    // codegen'd projection below the output sort — zero shuffles.
    "q_pii_scrub" -> Query((s, d) => {
      val pii = concat(
        lit("Contact User"), (col("doc_id") % 100).cast("string"),
        lit("@mail."), col("source"),
        lit(".example.com or call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" at 10."), (col("doc_id") % 256).cast("string"), lit("."),
        expr("(doc_id DIV 256) % 256").cast("string"),
        lit(".7 about: "), substring(col("text"), 1, 40))
      docs(s, d).select(col("doc_id"),
          TextStats.piiCounts(pii).as("_c"),
          TextStats.redactPii(pii).as("scrubbed"))
        .select(col("doc_id"), col("_c.n_emails").as("n_emails"),
          col("_c.n_phones").as("n_phones"),
          col("_c.n_ips").as("n_ips"), col("scrubbed"))
        .orderBy("doc_id")
    },
      // PII replay: the same synthesized contact line, detection counts
      // via regexp_extract_all, and the same three-stage global
      // replacement (DuckDB needs the explicit 'g' flag)
      Oracle("""WITH p AS (
        |  SELECT doc_id,
        |    'Contact User' || (doc_id % 100) || '@mail.' || source ||
        |    '.example.com or call +1-555-' ||
        |    lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
        |    ' at 10.' || (doc_id % 256) || '.' ||
        |    ((doc_id // 256) % 256) || '.7 about: ' ||
        |    substr(text, 1, 40) AS pii
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(pii,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(pii,
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(pii,
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(pii,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '[EMAIL]', 'g'),
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g') AS scrubbed
        |FROM p ORDER BY doc_id""".stripMargin)),

    // The first BPE merge step: corpus-wide counts of adjacent
    // character pairs inside words (weighted by word frequency) — the
    // exact statistic a BPE trainer computes each round to pick the
    // next merge. Top-20 pairs by count (ties lexicographic).
    // explode(word)→explode(pair) with map-side combine; the pair
    // space is bounded (|alphabet|²), so the final top-k is
    // TakeOrdered over a tiny relation.
    "q_bpe_pairs" -> Query((s, d) => {
      val words = docs(s, d).select(
          explode(graft.operators.TermStats.words(col("text"))).as("w"))
        .filter(length(col("w")) >= 2) // sequence(1,0) would descend
      words
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(20)
    },
      Oracle("""WITH w AS (SELECT unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS w
        |           FROM documents),
        |p AS (SELECT unnest([substring(w, i, 2)
        |                     for i in range(1, length(w))]) AS pair
        |      FROM w WHERE length(w) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin)),

    // BPE tokenizer TRAINING (Sennrich et al. 2016): three corpus-wide
    // merge rounds — count adjacent symbol pairs, merge the most
    // frequent pair everywhere via the exact greedy run-parity rule,
    // repeat. Output is the learned merge table; the oracle replays
    // every round CTE for CTE.
    "q_bpe_merges" -> Query((s, d) =>
      graft.operators.Bpe.train(Tables.documents(s, d), col("doc_id"),
          col("text"), rounds = 3)
        .orderBy("round"),
      Oracle(bpeOracle(3))),

    // BPE ENCODING: train-once / apply-everywhere — the trained merge
    // table (O(rounds) driver metadata) is applied to the corpus in
    // rank order and the resulting token usage is aggregated. The
    // whole merge chain partitions by the same (doc, word) key, so
    // Catalyst plans ONE exchange for all R window passes; the oracle
    // replays the identical rounds and aggregates t{R}.
    "q_bpe_encode" -> Query((s, d) => {
      val corpus = Tables.documents(s, d)
      val merges = graft.operators.Bpe.trainedMerges(corpus,
        col("doc_id"), col("text"), rounds = 3)
      graft.operators.Bpe.encode(corpus, col("doc_id"), col("text"), merges)
        .groupBy("tok")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occ").desc, col("tok")).limit(50)
    },
      Oracle(bpeEncodeOracle(3))),

    // Tokenizer FERTILITY per language — tokens-per-word under the
    // trained BPE, the standard tokenizer-fairness metric (a language
    // whose words shatter into many tokens pays more sequence budget
    // per sentence). Train-once/apply-everywhere like q_bpe_encode;
    // the per-TOKEN relation reduces to per-doc counts BEFORE the
    // lang join (map-side combine on the merge chain's own (doc,
    // word) partitioning), so only a |docs|-row relation shuffles.
    // Integer centi-ratio keeps the gate exact.
    "q_token_fertility" -> Query((s, d) => {
      val corpus = Tables.documents(s, d)
      val merges = graft.operators.Bpe.trainedMerges(corpus,
        col("doc_id"), col("text"), rounds = 3)
      val perDoc = graft.operators.Bpe
        .encode(corpus, col("doc_id"), col("text"), merges)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          countDistinct(col("widx")).as("n_w"))
      perDoc.join(corpus.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang")
        .agg(sum(col("n_tok")).as("n_tokens"),
          sum(col("n_w")).as("n_words"))
        .withColumn("fertility_centi",
          expr("n_tokens * 100 DIV n_words"))
        .orderBy("lang")
    },
      // replays the identical 3 merge rounds, then per-doc token/word
      // counts from the final symbol relation joined to lang
      Oracle(fertilityOracle(3))),

    // BPE artifact path (train-once / apply-FOREVER; round-15 verdict
    // Next #2, mirroring the ANN persisted-index pattern): the
    // trained merge table persists as a saved table — built only if
    // absent, so the steady state (and every timed bench rep after
    // the warmup) runs ZERO training jobs — and encoding loads it
    // back as O(rounds) driver metadata. Same aggregation and oracle
    // as q_bpe_encode: the hash match proves artifact-encode ≡
    // inline-train encode end to end.
    "q_bpe_encode_artifact" -> Query((s, d) => {
      val corpus = Tables.documents(s, d)
      graft.operators.Bpe.encodeFromArtifact(s, bpeArtifact(s, d, 3),
          corpus, col("doc_id"), col("text"))
        .groupBy("tok")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occ").desc, col("tok")).limit(50)
    },
      // the artifact queries' oracles are the INLINE queries' oracles
      // verbatim: artifact-encode must equal inline-train encode, and
      // the shared hash gate is what proves it
      Oracle(bpeEncodeOracle(3))),

    // Tokenizer fertility from the SAME persisted artifact — the
    // fairness metric in its production form (q_token_fertility's
    // derivation minus the per-query re-train; same oracle).
    "q_fertility_artifact" -> Query((s, d) => {
      val corpus = Tables.documents(s, d)
      val perDoc = graft.operators.Bpe
        .encodeFromArtifact(s, bpeArtifact(s, d, 3), corpus,
          col("doc_id"), col("text"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          countDistinct(col("widx")).as("n_w"))
      perDoc.join(corpus.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang")
        .agg(sum(col("n_tok")).as("n_tokens"),
          sum(col("n_w")).as("n_words"))
        .withColumn("fertility_centi",
          expr("n_tokens * 100 DIV n_words"))
        .orderBy("lang")
    },
      Oracle(fertilityOracle(3))),

    // Tokenizer-vocabulary coverage: vocab = top-100 corpus terms by
    // frequency (ties to the lexicographically smaller term), then the
    // per-document out-of-vocabulary token fraction. The vocab relation
    // is top-k-bounded index metadata — it broadcasts; the corpus side
    // never collects.
    "q_vocab_oov" -> Query((s, d) => {
      val terms = docs(s, d).select(col("doc_id"),
          explode(graft.operators.TermStats.words(col("text"))).as("term"))
        .filter(col("term") =!= "")
      // orderBy+limit plans as TakeOrderedAndProject (distributed
      // partial top-k) — NOT an unpartitioned rank window, which would
      // serialize the whole vocabulary through one task
      val vocab = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(100)
        .select(col("term"), lit(1).as("in_vocab"))
      terms.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          count(col("in_vocab")).as("n_in_vocab"))
        .withColumn("oov_frac",
          (col("n_tok") - col("n_in_vocab")).cast("double") /
            col("n_tok").cast("double"))
        .orderBy("doc_id")
    },
      Oracle("""WITH t AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(text), '[ \t\n\r\f]+')) AS term
        |  FROM documents),
        |tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
        |v AS (SELECT term FROM (
        |  SELECT term, count(*) AS cnt FROM tt GROUP BY term)
        |  ORDER BY cnt DESC, term LIMIT 100)
        |SELECT tt.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(count(v.term) AS BIGINT) AS n_in_vocab,
        |  CAST(count(*) - count(v.term) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS oov_frac
        |FROM tt LEFT JOIN v USING (term)
        |GROUP BY tt.doc_id ORDER BY tt.doc_id""".stripMargin)),

    // Train/test leakage audit: near-duplicate pairs that straddle the
    // deterministic split boundary — the check every eval pipeline
    // needs after splitting (composes the MinHash near-dup join with
    // the content-addressed split; a leaked pair means the eval split
    // contains a near-copy of a training doc).
    "q_split_leakage" -> Query((s, d) => {
      // split assignment is content-addressed (a pure hash of the id),
      // so both sides of each pair compute their split inline — zero
      // joins against the documents table.
      val w = Seq(("train", 80), ("val", 10), ("test", 10))
      Dedup.nearDupPairs(docs(s, d), col("doc_id"), col("text"))
        .withColumn("split_a", graft.operators.Sampling.splitExpr(col("doc_a"), w))
        .withColumn("split_b", graft.operators.Sampling.splitExpr(col("doc_b"), w))
        .filter(col("split_a") =!= col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b")
        .orderBy("doc_a", "doc_b")
    },
      // near-dup pairs (same brute-force shingle oracle as q_dedup_near)
      // crossing the deterministic split boundary
      Oracle(s"""WITH $shingleCte,
         |sp AS (SELECT doc_id,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |    (((((doc_id % 1000000007) * 2654435761) % 1000000007)
         |       + 40503) * 2654435761) % 1000000007 % 100 AS b
         |    FROM documents))
         |SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
         |FROM pairs p
         |JOIN sp sa ON p.doc_a = sa.doc_id
         |JOIN sp sb ON p.doc_b = sb.doc_id
         |WHERE p.jaccard >= 0.8 AND sa.split <> sb.split
         |ORDER BY doc_a, doc_b""".stripMargin)),

    // Exact cosine top-5 for query vectors 0..4 over the whole corpus —
    // ranks only (FP sums are engine-order-sensitive; ranks are stable
    // because neighbor cosines are well separated in the fixture).
    "q_sim_topk" -> Query((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), Seq(0L, 1L, 2L, 3L, 4L), 5)
        .orderBy("query_id", "rank"),
      Oracle("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |s AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_dot_product(q.qv, e.v)
        |      / (sqrt(list_dot_product(q.qv, q.qv))
        |         * sqrt(list_dot_product(e.v, e.v))) AS c
        |  FROM q JOIN e ON e.vec_id <> q.query_id
        |)
        |SELECT query_id, neighbor_id, rank FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
        |  FROM s
        |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // LSH-bucketed approximate variant (the scale path); SimilaritySpec
    // asserts recall against the exact path.
    "q_sim_lsh" -> Query((s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), Seq(0L, 1L, 2L, 3L, 4L), 5,
          dim = 64)
        .orderBy("query_id", "rank"),
      NoOracle("approximate: LSH buckets decide which neighbors are found")),

    // Exact word-trigram Jaccard similarity join (prefix-filtered
    // AllPairs/PPJoin): recall is provably complete at the threshold —
    // the deterministic-exact ALGORITHM alternative to the
    // probabilistic MinHash path over the same shingle space (run at a
    // different threshold; the oracle is the same brute-force pair
    // join the MinHash query is checked against).
    "q_dedup_ngram" -> Query((s, d) =>
      graft.operators.SetSimJoin
        .wordNgramJaccardPairs(docs(s, d), col("doc_id"), col("text"),
          n = 3, threshold = 0.7)
        .orderBy("doc_a", "doc_b"),
      // brute-force oracle over the same trigram-shingle definition the
      // MinHash near-dup oracle uses; the prefix-filtered exact join
      // must reproduce it verbatim at its threshold
      Oracle(s"""WITH $shingleCte
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |WHERE jaccard >= 0.7 ORDER BY doc_a, doc_b""".stripMargin)),

    // Asymmetric containment: A-mostly-inside-B subsumption pairs that
    // symmetric Jaccard misses (quoted paragraphs, boilerplate
    // inclusion) — one-sided prefix filter, full-relation probe side;
    // see SetSimJoin.containmentPairs.
    "q_containment" -> Query((s, d) =>
      graft.operators.SetSimJoin
        .wordNgramContainmentPairs(docs(s, d), col("doc_id"),
          col("text"), n = 3, threshold = 0.8)
        .orderBy("doc", "container"),
      // brute-force directional containment over the same shingle sets;
      // the len(a.sh) > 0 guard mirrors the engine's no-grams-no-rows
      // contract (DuckDB NaN compares GREATER than everything, so an
      // unguarded 0/0 row would pass the threshold filter)
      Oracle("""WITH t AS (SELECT doc_id,
        |  string_split_regex(text, '[ \t\n\r\f]+') AS w FROM documents),
        |s AS (SELECT doc_id,
        |  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                 for i in range(1, len(w)-1)]) AS sh FROM t),
        |p AS (SELECT a.doc_id AS doc, b.doc_id AS container,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
        |    AS containment
        |  FROM s a JOIN s b ON a.doc_id <> b.doc_id
        |  WHERE len(a.sh) > 0)
        |SELECT doc, container, containment FROM p
        |WHERE containment >= CAST(0.8 AS DOUBLE)
        |ORDER BY doc, container""".stripMargin)),

    // SimHash near-dup pairs (Hamming-banded, exact bit_count verify),
    // run with the SQL-parity md5 gram hash so the oracle recomputes
    // the signatures, the bit-majority vote, and the Hamming distances
    // exactly — a full hash gate, not a rows-only check. The banding is
    // an engine-side detail the oracle may skip: recall at
    // maxHamming=3 < bands=4 is COMPLETE by pigeonhole, so both sides
    // emit exactly {(a,b) : a<b, hamming(sim_a, sim_b) <= 3}.
    "q_simhash_pairs" -> Query((s, d) =>
      Dedup.simhashNearDupPairs(docs(s, d), col("doc_id"), col("text"),
          sqlParityHash = true)
        .orderBy("doc_a", "doc_b"),
      Oracle(s"""WITH $simhashCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin)),

    // Embedding-cosine near-dup over documents' companion embeddings,
    // promoted (round 8) from rows-only to a FULL hash gate: the
    // sign-LSH hyperplanes are ±1 md5-parity vectors and every dot /
    // norm / threshold comparison is exact integer arithmetic, so the
    // oracle recomputes the ENTIRE pipeline — bucketing included —
    // bit-for-bit (BinaryEmbed.intCosineNearDupPairs; the float
    // Gaussian-plane path remains as the Similarity operator with
    // SimilaritySpec pinning planted-pair recall).
    "q_cos_near_dup" -> Query((s, d) =>
      graft.operators.BinaryEmbed.intCosineNearDupPairs(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          tPct = 30, dim = 64)
        .orderBy("id_a", "id_b"),
      // full-pipeline recomputation: quantize -> ±1 md5-parity sign-LSH
      // buckets -> intra-bucket candidate pairs -> exact integer cosine
      // threshold. The bucketing is part of the query semantics, so the
      // oracle mirrors it instead of needing a recall-completeness
      // argument; HUGEINT stands in for Spark's DECIMAL(38,0).
      Oracle(s"""WITH $cosPairsCte
        |SELECT id_a, id_b, num,
        |  CAST(num AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine
        |FROM cospairs
        |ORDER BY id_a, id_b""".stripMargin)),

    // SemDeDup's missing last step, fully hash-gated: the exact-integer
    // cosine near-dup pairs closed transitively into SEMANTIC clusters
    // (same Kiveris CC engine as q_dedup_clusters, same recursive-CTE
    // closure oracle — but the edge relation here is the
    // embedding-space one, so the composition proves pair generation
    // and clustering are independent, swappable stages).
    "q_semantic_clusters" -> Query((s, d) => {
      val pairs = graft.operators.BinaryEmbed.intCosineNearDupPairs(
        Tables.embeddings(s, d), col("vec_id"), col("embedding"),
        tPct = 30, dim = 64)
      val cc = graft.operators.Clusters
        .connectedComponents(pairs, col("id_a"), col("id_b"))
        .withColumnRenamed("node", "_cc_id")
      Tables.embeddings(s, d).select(col("vec_id"))
        .join(cc, col("vec_id") === col("_cc_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("cluster_id"))
        .orderBy("vec_id")
    },
      Oracle(s"""WITH RECURSIVE $cosPairsCte,
        |e AS (
        |  SELECT id_a AS a, id_b AS b FROM cospairs
        |  UNION ALL
        |  SELECT id_b AS a, id_a AS b FROM cospairs
        |),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
        |),
        |lbl AS (SELECT a AS vec_id, MIN(b) AS mn FROM reach GROUP BY a)
        |SELECT m.vec_id,
        |  CAST(least(m.vec_id, coalesce(l.mn, m.vec_id)) AS BIGINT)
        |    AS cluster_id
        |FROM embeddings m LEFT JOIN lbl l USING (vec_id)
        |ORDER BY vec_id""".stripMargin)),

    // Binary-signature Hamming ANN: sign-binarized embeddings packed
    // into two 32-bit words, neighbors ranked by XOR+POPCNT — exact
    // integer arithmetic end to end, so unlike the float-cosine ANN
    // paths this one carries a full value oracle.
    "q_ham_topk" -> Query((s, d) =>
      graft.operators.BinaryEmbed.hammingTopK(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), Seq(0L, 1L, 2L, 3L, 4L), 5)
        .select("query_id", "neighbor_id", "hamming", "rank")
        .orderBy("query_id", "rank"),
      Oracle("""WITH s AS (SELECT vec_id,
        |  CAST(list_sum([CASE WHEN embedding[i] > 0
        |      THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END
        |    for i in range(1, 33)]) AS BIGINT) AS sig_lo,
        |  CAST(list_sum([CASE WHEN embedding[i] > 0
        |      THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE CAST(0 AS BIGINT) END
        |    for i in range(33, 65)]) AS BIGINT) AS sig_hi
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, sig_lo AS q_lo, sig_hi AS q_hi
        |      FROM s WHERE vec_id < 5),
        |d AS (SELECT q.query_id, s.vec_id AS neighbor_id,
        |  CAST(bit_count(xor(q.q_lo, s.sig_lo))
        |     + bit_count(xor(q.q_hi, s.sig_hi)) AS BIGINT) AS hamming
        |  FROM q JOIN s ON s.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, hamming, rank FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
        |  FROM d)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // Symmetric int8 scalar quantization with per-vector scale. The
    // int array serializes to a comma string for the gate (the
    // driver's comparator is scalar-typed; q_array_fns precedent).
    "q_embed_quant" -> Query((s, d) =>
      graft.operators.BinaryEmbed.quantizeInt8(
          Tables.embeddings(s, d).select("vec_id", "embedding"),
          col("embedding"))
        .select(col("vec_id"), col("q_scale"),
          array_join(transform(col("q_vec"), _.cast("string")), ",")
            .as("q_vec_str"))
        .orderBy("vec_id"),
      Oracle("""WITH m AS (SELECT vec_id, embedding,
        |  CASE WHEN list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) > 0.0
        |    THEN 127.0 / list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))))
        |    ELSE 0.0 END AS q_scale
        |  FROM embeddings)
        |SELECT vec_id, q_scale,
        |  array_to_string(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * q_scale + 0.5) AS INTEGER)),
        |    ',') AS q_vec_str
        |FROM m ORDER BY vec_id""".stripMargin)),

    // Per-label embedding centroids by exact element-wise integer
    // sums: posexplode → (label, pos) aggregation — the distributed,
    // order-independent form of the centroid build every IVF/k-means
    // index needs (the in-operator IVF build collects O(√n) metadata;
    // this is the full-relation path, map-side combinable, no vector
    // ever held whole on one node). Components are quantized to 1e-10
    // units via floor(x·1e10 + 0.5) — explicit double rounding, the
    // BinaryEmbed pattern — because a DOUBLE→DECIMAL cast breaks
    // half-way ties differently across engines (measured here: one
    // element, one decimal ulp).
    "q_embed_centroid" -> Query((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("pos0", "x")))
        .groupBy(col("label"), (col("pos0") + lit(1)).cast("long").as("pos"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("x").cast("double") * lit(1e10) + lit(0.5))
            .cast("long")).as("su"))
        .select(col("label"), col("pos"), col("n"),
          (col("su").cast("double") / (col("n").cast("double") * lit(1e10)))
            .as("centroid"))
        .orderBy("label", "pos"),
      Oracle("""WITH t AS (SELECT label,
        |  CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |  unnest(embedding) AS x FROM embeddings),
        |a AS (SELECT label, pos, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1e10 + 0.5) AS BIGINT))
        |    AS BIGINT) AS su
        |  FROM t GROUP BY label, pos)
        |SELECT label, pos, n,
        |  CAST(su AS DOUBLE) / (CAST(n AS DOUBLE) * 1e10) AS centroid
        |FROM a ORDER BY label, pos""".stripMargin)),

    // Top principal direction of the embedding corpus by integer-exact
    // power iteration — 6 rounds of the quantized v ← XᵀXv recursion
    // with per-round integer renormalization (see
    // operators/PowerIteration for the overflow contract and why the
    // float version can't be hash-gated). One persisted narrow scan
    // per round, dim partial sums shuffled, iterate v driver-resident
    // O(dim) metadata.
    "q_embed_pca" -> Query((s, d) =>
      graft.operators.PowerIteration.topComponent(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          iters = 6)
        .orderBy("j"),
      Oracle(s"""$pcaCtes
         |SELECT j, v FROM v6 ORDER BY j""".stripMargin)),

    // Exact integer projection of every vector onto the learned
    // direction — the ranking used to strip or inspect the dominant
    // component ("all-but-the-top" embedding cleanup).
    "q_embed_project" -> Query((s, d) =>
      graft.operators.PowerIteration.project(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          iters = 6)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id"),
      Oracle(s"""$pcaCtes
         |SELECT e.id AS vec_id, CAST(sum(e.q * v6.v) AS BIGINT) AS score
         |FROM e JOIN v6 USING (j) GROUP BY e.id ORDER BY vec_id""".stripMargin)),

    // IVF variant (the other scale path): deterministic k-means coarse
    // quantizer, nprobe cluster probing, exact rerank; SimilaritySpec
    // pins planted recall.
    "q_sim_ivf" -> Query((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), Seq(0L, 1L, 2L, 3L, 4L), 5,
          iterations = 1)
        .orderBy("query_id", "rank"),
      NoOracle("approximate: IVF probing decides which neighbors are found")),

    // Multimodal plumbing: text payloads viewed as opaque binary media,
    // pushed through the typed per-partition feature-extraction path;
    // n_bytes (payload size) is oracle-checkable, the stub features are
    // covered by MultimodalSpec goldens.
    "q_multimodal" -> Query((s, d) => {
      val media = Multimodal.asMedia(
        docs(s, d).select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("content")), "txt")
      Multimodal.extractFeatures(media)
        .toDF()
        .select(col("media_id").as("doc_id"), col("n_bytes"))
        .orderBy("doc_id")
    },
      Oracle("""SELECT doc_id, octet_length(encode(text)) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Integer-exact Lloyd k-means over the embedding corpus (k=8,
    // 2 assignment rounds, deterministic lowest-id seeds) — the coarse
    // clustering SemDeDup-style semantic dedup partitions by. Every
    // distance, argmin tie-break, and centroid floor-division is exact
    // integer arithmetic, so the full clustering recursion hash-gates
    // (see operators/KMeans for the quantization and sign contracts).
    "q_kmeans_assign" -> Query((s, d) =>
      graft.operators.KMeans.assign(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), k = 8, rounds = 2)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id"),
      // k-means CTE shared by q_kmeans_assign / q_semantic_dedup: the
      // full 2-round Lloyd recursion rebuilt relationally — quantize,
      // lowest-id seeds, exact integer argmin (ties -> lowest cluster),
      // sign-explicit floor-division centroid update (empty clusters
      // carry their seed forward).
      Oracle((kmeansCte + """
        |SELECT vec_id, cl AS cluster, CAST(dist AS BIGINT) AS dist
        |FROM a2 WHERE rn = 1 ORDER BY vec_id""".stripMargin))),

    // Greedy k-center coreset (Gonzalez farthest-point traversal):
    // the 8 maximally-diverse exemplar embeddings in selection order
    // with each pick's exact integer coverage radius — diversity-
    // preserving subsampling next to k-means' density clustering.
    // The oracle unrolls the 7 argmax steps as CTEs.
    "q_kcenter" -> Query((s, d) =>
      graft.operators.Coreset.kCenter(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), k = 8)
        .withColumnRenamed("id", "vec_id")
        .orderBy("sel_rank"),
      Oracle(kcenterOracle(8))),

    // MMR diverse top-10 for query vector 0 (Carbonell-Goldstein,
    // λ=1/2 ⇒ integer rel − redundancy objective): k narrow scans +
    // TakeOrdered top-1s under the Coreset/KMeans integer-exactness
    // recipe; the oracle unrolls every selection round.
    "q_mmr" -> Query((s, d) =>
      graft.operators.Mmr.diverseTopK(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), queryId = 0L, k = 10)
        .withColumnRenamed("id", "vec_id")
        .orderBy("sel_rank"),
      Oracle(mmrOracle(10, 0L))),

    // The coverage clustering the k-center traversal implies: every
    // vector assigned to its nearest selected exemplar with the exact
    // integer distance — max(dist) here IS the k-center objective.
    "q_kcenter_assign" -> Query((s, d) =>
      graft.operators.Coreset.kCenterAssign(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), k = 8)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id"),
      Oracle(kcenterOracle(8, assign = true))),

    // SemDeDup semantic near-duplicate pruning (Abbas et al. 2023):
    // k-means cells bound the candidate pairs (BucketPairs-salted,
    // never all-pairs), exact integer cosine >= 0.30 within a cell
    // drops every member but the lowest id. The oracle replays the
    // whole pipeline — clustering included — relationally.
    "q_semantic_dedup" -> Query((s, d) =>
      graft.operators.KMeans.semanticDedup(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), k = 8, rounds = 2, tPct = 30)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id"),
      Oracle((kmeansCte + """,
        |fin AS (SELECT vec_id, cl FROM a2 WHERE rn = 1),
        |w AS (SELECT vec_id AS id, q,
        |  CAST(list_sum([x*x FOR x IN q]) AS BIGINT) AS nq FROM q),
        |scored AS (
        |  SELECT b.vec_id AS ib,
        |    CAST(list_sum([wa.q[i] * wb.q[i] for i in range(1, 65)])
        |      AS BIGINT) AS num,
        |    wa.nq AS na, wb.nq AS nb
        |  FROM fin a JOIN fin b ON a.cl = b.cl AND a.vec_id < b.vec_id
        |  JOIN w wa ON wa.id = a.vec_id
        |  JOIN w wb ON wb.id = b.vec_id
        |),
        |dropped AS (
        |  SELECT DISTINCT ib AS id FROM scored
        |  WHERE num > 0
        |    AND 10000 * CAST(num AS HUGEINT) * num
        |          >= 900 * CAST(na AS HUGEINT) * nb
        |)
        |SELECT f.vec_id, f.cl AS cluster FROM fin f
        |WHERE f.vec_id NOT IN (SELECT id FROM dropped)
        |ORDER BY f.vec_id""".stripMargin))),

    // Deterministic weighted systematic sampling: ~50 documents drawn
    // with probability proportional to length over an md5-shuffled
    // frame — quality/length-weighted corpus subsampling with zero RNG
    // state; prefix sums ride the two-phase global-cumsum scan (no
    // single-task window).
    "q_weighted_sample" -> Query((s, d) =>
      graft.operators.Sampling.weightedSystematic(
          docs(s, d).select("doc_id", "n_chars"),
          col("doc_id"), col("n_chars"), target = 50)
        .select("doc_id", "sample_w", "sample_cum")
        .orderBy("doc_id"),
      Oracle("""WITH w AS (
        |  SELECT doc_id, greatest(n_chars, 1) AS sample_w,
        |    md5(doc_id::VARCHAR) AS h
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, sample_w,
        |    coalesce(sum(sample_w) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS sample_cum,
        |    sum(sample_w) OVER () AS total
        |  FROM w
        |)
        |SELECT doc_id, CAST(sample_w AS BIGINT) AS sample_w,
        |  CAST(sample_cum AS BIGINT) AS sample_cum
        |FROM c
        |WHERE sample_cum // greatest(total // 50, 1)
        |    < (sample_cum + sample_w) // greatest(total // 50, 1)
        |ORDER BY doc_id""".stripMargin)),

    // Priority sampling (Duffield-Lund-Thorup): 50 length-weighted
    // documents WITHOUT replacement with the unbiased max(w, tau)
    // subset-sum estimators — deterministic hash priorities, one
    // distributed top-(k+1), never a global sort.
    "q_priority_sample" -> Query((s, d) =>
      graft.operators.Sampling.prioritySample(
          docs(s, d).select("doc_id", "n_chars"),
          col("doc_id"), col("n_chars"), k = 50)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Oracle("""WITH w AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |    (((((doc_id % 1000000007) * 2654435761) % 1000000007
        |      + 40503) * 2654435761) % 1000000007) % 1000000000 + 1 AS u
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        |p AS (SELECT doc_id, w,
        |  CAST(w AS DOUBLE) * 1000000000.0 / CAST(u AS DOUBLE)
        |    AS priority FROM w),
        |t AS (SELECT * FROM p ORDER BY priority DESC, doc_id LIMIT 51),
        |thr AS (SELECT CASE WHEN count(*) = 51 THEN min(priority)
        |  ELSE 0.0 END AS tau FROM t),
        |s AS (SELECT * FROM t ORDER BY priority DESC, doc_id LIMIT 50)
        |SELECT s.doc_id, s.w, s.priority,
        |  greatest(CAST(s.w AS DOUBLE), thr.tau) AS w_hat
        |FROM s, thr ORDER BY doc_id""".stripMargin)),

    // Rendezvous (highest-random-weight) sharding: stable doc→shard
    // assignment for a 16-shard fleet plus the balance audit (docs and
    // char mass per shard). One narrow scan, 16 codegen'd weight
    // expressions per row, no shuffle before the 16-group aggregate;
    // unlike `% 16`, growing the fleet relocates only ~1/17 of keys.
    "q_shard_assign" -> Query((s, d) =>
      graft.operators.Sampling.rendezvousShard(
          Tables.documents(s, d).select("doc_id", "n_chars"),
          col("doc_id"), shards = 16)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("shard"),
      // the rendezvous weight chain is hashBucket over the mixed key
      // (doc_id mod p)*1000003 + s, spelled in exact BIGINT arithmetic;
      // ties break (w DESC, s DESC) — the engine's struct-max convention
      Oracle("""WITH a0 AS (
        |  SELECT doc_id, n_chars, r.s,
        |    (((((((doc_id % 1000000007) * 1000003 + r.s) % 1000000007)
        |      * 2654435761) % 1000000007 + 40503) * 2654435761)
        |      % 1000000007) AS r2
        |  FROM documents CROSS JOIN range(0, 16) r(s)),
        |a AS (
        |  SELECT doc_id, n_chars, s,
        |    ((((r2 * r2) % 1000000007) + 40503) * 2654435761)
        |      % 1000000007 AS w
        |  FROM a0),
        |b AS (SELECT doc_id, n_chars, s AS shard,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY w DESC, s DESC) AS rn
        |  FROM a)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b WHERE rn = 1 GROUP BY shard ORDER BY shard""".stripMargin)),

    // Count-min sketch heavy hitters with the md5-prefix hash family:
    // top-20 corpus terms by CMS estimate with the exact count
    // alongside — deterministic counters make the sketch itself (not
    // just its output rows) oracle-checkable, unlike Spark's seeded
    // HLL/KLL surface (q_approx_stats).
    "q_cms_topk" -> Query((s, d) =>
      graft.operators.Sketch.cmsHeavyHitters(docs(s, d), col("text"),
          d = 3, w = 64, k = 20)
        .select("term", "est", "cnt", "rank")
        .orderBy("rank"),
      Oracle("""WITH toks AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[ \t\n\r\f]+'), w -> w <> '')) AS term
        |  FROM documents WHERE text IS NOT NULL
        |),
        |exact AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        |cells AS (
        |  SELECT r.r,
        |    ('0x' || substr(md5(r.r::VARCHAR || ':' || e.term), 1, 15))
        |      ::BIGINT % 64 AS cell,
        |    e.term, e.cnt
        |  FROM exact e, range(0, 3) r(r)
        |),
        |counters AS (SELECT r, cell, sum(cnt) AS c
        |             FROM cells GROUP BY r, cell),
        |est AS (
        |  SELECT ce.term, min(co.c) AS est, min(ce.cnt) AS cnt
        |  FROM cells ce JOIN counters co ON co.r = ce.r AND co.cell = ce.cell
        |  GROUP BY ce.term
        |)
        |SELECT term, CAST(est AS BIGINT) AS est, CAST(cnt AS BIGINT) AS cnt,
        |  rank
        |FROM (SELECT *, row_number() OVER (ORDER BY est DESC, term) AS rank
        |      FROM est)
        |WHERE rank <= 20 ORDER BY rank""".stripMargin)),

    // Fasttext-shaped hashed bag-of-char-trigrams linear classifier
    // inference: codegen'd one-pass gram→bucket kernel, broadcast
    // weight matrix, map-side-combinable (doc, class) scores, argmax
    // via one struct-min aggregate — the model-based corpus gating
    // path with a deterministic stand-in weight matrix so inference
    // hash-gates end to end (operators/Classifier).
    "q_hash_classifier" -> Query((s, d) =>
      graft.operators.Classifier.hashNgramPredict(docs(s, d),
          col("doc_id"), col("text"), classes = 3, n = 3, buckets = 64)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Oracle("""WITH grams AS (
        |  SELECT doc_id,
        |    unnest([substr(lower(text), i, 3)
        |            for i in range(1, length(text) - 1)]) AS g
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 3
        |),
        |feats AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(g), 1, 15))::BIGINT % 64 AS b,
        |    count(*) AS cnt
        |  FROM grams GROUP BY doc_id, b
        |),
        |wts AS (
        |  SELECT c.c, b.b,
        |    ('0x' || substr(md5('w:' || c.c::VARCHAR || ':' || b.b::VARCHAR),
        |       1, 15))::BIGINT % 7 - 3 AS w
        |  FROM range(0, 3) c(c), range(0, 64) b(b)
        |),
        |scores AS (
        |  SELECT f.doc_id, w.c, sum(w.w * f.cnt) AS score
        |  FROM feats f JOIN wts w ON w.b = f.b
        |  GROUP BY f.doc_id, w.c
        |),
        |best AS (
        |  SELECT doc_id, c, score, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, c) AS rn
        |  FROM scores
        |)
        |SELECT doc_id, c AS cls, CAST(score AS BIGINT) AS score
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // IVF ANN top-k over the integer k-means coarse quantizer — the
    // hash-gated twin of the float q_sim_ivf: probe the 2 nearest
    // final centroids per query (exact integer distances), candidates
    // from the cluster-keyed assignment relation, exact-cosine rerank.
    // Probing is part of the gate, so the oracle replays the whole
    // build + probe + rerank relationally.
    "q_sim_ivf_int" -> Query((s, d) =>
      graft.operators.KMeans.ivfTopK(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), Seq(0L, 1L, 2L, 3L, 4L),
          topK = 5, nprobe = 2, k = 8, rounds = 2)
        .orderBy("query_id", "rank"),
      Oracle((kmeansCte + """,
        |fin AS (SELECT vec_id, cl FROM a2 WHERE rn = 1),
        |w AS (SELECT vec_id AS id, q,
        |  CAST(list_sum([x*x FOR x IN q]) AS BIGINT) AS nq FROM q),
        |pd AS (
        |  SELECT qx.vec_id AS query_id, c1.cl,
        |    sum((qx.v - c1.c) * (qx.v - c1.c)) AS dist
        |  FROM qx JOIN c1 ON qx.pos = c1.pos
        |  WHERE qx.vec_id < 5
        |  GROUP BY 1, 2),
        |probe AS (
        |  SELECT query_id, cl FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY query_id ORDER BY dist, cl) AS pr FROM pd)
        |  WHERE pr <= 2),
        |cand AS (
        |  SELECT p.query_id, f.vec_id AS neighbor_id
        |  FROM probe p JOIN fin f ON f.cl = p.cl
        |  WHERE f.vec_id <> p.query_id),
        |scored AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    CAST(list_sum([wa.q[i] * wb.q[i] for i in range(1, 65)])
        |      AS BIGINT) AS num,
        |    wa.nq AS na, wb.nq AS nb
        |  FROM cand c
        |  JOIN w wa ON wa.id = c.query_id
        |  JOIN w wb ON wb.id = c.neighbor_id)
        |SELECT query_id, neighbor_id, num,
        |  CAST(num AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine,
        |  rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY CAST(num AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
        |          DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))),

    // Sign-LSH ANN top-k with md5-parity integer hyperplanes — the
    // fully hash-gated twin of the float q_sim_lsh: same bucket-join
    // shape, exact integer cosine rerank, bucketing included in the
    // oracle so no recall argument is needed.
    "q_sim_lsh_int" -> Query((s, d) =>
      graft.operators.BinaryEmbed.intLshTopK(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), Seq(0L, 1L, 2L, 3L, 4L), 5)
        .orderBy("query_id", "rank"),
      Oracle("""WITH v AS (
        |  SELECT vec_id AS id,
        |    [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) FOR x IN embedding] AS q
        |  FROM embeddings WHERE embedding IS NOT NULL
        |),
        |w AS (SELECT id, q,
        |  CAST(list_sum([x*x FOR x IN q]) AS BIGINT) AS na FROM v),
        |planes AS (
        |  SELECT t.t, b.b, i.i,
        |    CASE WHEN (('0x' || substr(md5(
        |             t.t::VARCHAR || ':' || b.b::VARCHAR || ':' || i.i::VARCHAR),
        |           1, 15))::BIGINT & 1) = 1
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM range(0, 6) t(t), range(0, 8) b(b), range(1, 65) i(i)
        |),
        |dots AS (
        |  SELECT w.id, p.t, p.b, sum(p.sgn * w.q[CAST(p.i AS INTEGER)]) AS d
        |  FROM w, planes p
        |  GROUP BY w.id, p.t, p.b
        |),
        |keys AS (
        |  SELECT id, t,
        |    CAST(sum(CASE WHEN d >= 0
        |      THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
        |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS key
        |  FROM dots GROUP BY id, t
        |),
        |cand AS (
        |  SELECT DISTINCT a.id AS query_id, b.id AS neighbor_id
        |  FROM keys a JOIN keys b ON a.t = b.t AND a.key = b.key
        |    AND a.id < 5 AND b.id <> a.id
        |),
        |scored AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    CAST(list_sum([wa.q[i] * wb.q[i] for i in range(1, 65)])
        |      AS BIGINT) AS num,
        |    wa.na AS na, wb.na AS nb
        |  FROM cand c
        |  JOIN w wa ON wa.id = c.query_id
        |  JOIN w wb ON wb.id = c.neighbor_id
        |)
        |SELECT query_id, neighbor_id, num,
        |  CAST(num AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine,
        |  rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY CAST(num AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
        |          DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // Embedding-quality probe audit: leave-one-out kNN label
    // consistency over a content-addressed probe sample (broadcast
    // probes, one corpus signature scan, majority vote by struct-min)
    // — per-label accuracy counts, integer-exact end to end.
    "q_knn_eval" -> Query((s, d) =>
      graft.operators.BinaryEmbed.knnLabelEval(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), col("label"),
          probeMod = 10, k = 5)
        .orderBy("label"),
      Oracle("""WITH s AS (SELECT vec_id, label,
        |  CAST(list_sum([CASE WHEN embedding[i] > 0
        |      THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END
        |    for i in range(1, 33)]) AS BIGINT) AS sig_lo,
        |  CAST(list_sum([CASE WHEN embedding[i] > 0
        |      THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE CAST(0 AS BIGINT) END
        |    for i in range(33, 65)]) AS BIGINT) AS sig_hi
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS q_lab,
        |             sig_lo AS q_lo, sig_hi AS q_hi
        |      FROM s
        |      WHERE (((((vec_id % 1000000007) * 2654435761) % 1000000007)
        |              + 40503) * 2654435761) % 1000000007 % 10 = 0),
        |d AS (SELECT q.query_id, q.q_lab, s.vec_id AS nid,
        |  s.label AS n_lab,
        |  CAST(bit_count(xor(q.q_lo, s.sig_lo))
        |     + bit_count(xor(q.q_hi, s.sig_hi)) AS BIGINT) AS hamming
        |  FROM q JOIN s ON s.vec_id <> q.query_id),
        |topk AS (
        |  SELECT * FROM (SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY hamming, nid) AS rnk FROM d)
        |  WHERE rnk <= 5),
        |votes AS (
        |  SELECT query_id, q_lab, n_lab, count(*) AS v
        |  FROM topk GROUP BY query_id, q_lab, n_lab),
        |pred AS (
        |  SELECT query_id, q_lab, n_lab AS pred_lab FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY query_id ORDER BY v DESC, n_lab) AS pr
        |    FROM votes)
        |  WHERE pr = 1)
        |SELECT q_lab AS label, count(*) AS n_probes,
        |  CAST(sum(CASE WHEN pred_lab = q_lab THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct
        |FROM pred GROUP BY q_lab ORDER BY label""".stripMargin)),

    // Hard-negative mining for contrastive training: nearest
    // different-label corpus vectors per query under exact signature
    // Hamming distance — broadcast queries, one corpus scan, label
    // inequality folded into the join predicate.
    "q_hard_negatives" -> Query((s, d) =>
      graft.operators.BinaryEmbed.hammingHardNegatives(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          col("label"), Seq(0L, 1L, 2L, 3L, 4L), 5)
        .select("query_id", "neighbor_id", "neighbor_label", "hamming",
          "rank")
        .orderBy("query_id", "rank"),
      Oracle("""WITH s AS (SELECT vec_id, label,
        |  CAST(list_sum([CASE WHEN embedding[i] > 0
        |      THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END
        |    for i in range(1, 33)]) AS BIGINT) AS sig_lo,
        |  CAST(list_sum([CASE WHEN embedding[i] > 0
        |      THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE CAST(0 AS BIGINT) END
        |    for i in range(33, 65)]) AS BIGINT) AS sig_hi
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS q_lab,
        |             sig_lo AS q_lo, sig_hi AS q_hi
        |      FROM s WHERE vec_id < 5),
        |d AS (SELECT q.query_id, s.vec_id AS neighbor_id,
        |  s.label AS neighbor_label,
        |  CAST(bit_count(xor(q.q_lo, s.sig_lo))
        |     + bit_count(xor(q.q_hi, s.sig_hi)) AS BIGINT) AS hamming
        |  FROM q JOIN s ON s.vec_id <> q.query_id AND s.label <> q.q_lab)
        |SELECT query_id, neighbor_id, neighbor_label, hamming, rank FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
        |  FROM d)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // Deterministic interleaved epoch ordering: per-source md5
    // shuffle + round-robin interleave, global position via the
    // two-phase prefix-sum scan — the reproducible "shuffle the
    // corpus for training" order with a uniform source mix in every
    // prefix.
    "q_epoch_order" -> Query((s, d) =>
      graft.operators.Sampling.epochOrder(
          docs(s, d).select("doc_id", "source"),
          col("doc_id"), col("source"))
        .select("doc_id", "source", "epoch_rn", "epoch_pos")
        .orderBy("epoch_pos"),
      Oracle("""WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) - 1 AS epoch_rn
        |  FROM documents
        |)
        |SELECT doc_id, source, epoch_rn,
        |  row_number() OVER (ORDER BY epoch_rn, source, doc_id) - 1
        |    AS epoch_pos
        |FROM r ORDER BY epoch_pos""".stripMargin)),
  )

  private def langScoresSql: String =
    TextStats.stopwordProfiles.map { case (lang, words) =>
      s"""len(regexp_extract_all(lower(text), '\\b(${words.mkString("|")})\\b')) AS score_$lang"""
    }.mkString(",\n  ")

  private def langPredSql: String = {
    val langs = TextStats.stopwordProfiles.map(_._1)
    val cases = langs.init.zipWithIndex.map { case (lang, i) =>
      val cond = langs.drop(i + 1)
        .map(o => s"score_$lang >= score_$o").mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }.mkString(" ")
    s"CASE $cases ELSE '${langs.last}' END"
  }

  private def fpSql =
    """md5(regexp_replace(lower(text), '[ \t\n\r\f]+', ' ', 'g'))"""

  /** SimHash recomputed from scratch: word trigrams → 60-bit md5-prefix
    * gram hash (the engine's SQL-parity hash) → per-bit majority vote
    * (sum of ±1 votes > 0 → bit set, the exact rule of
    * graft.functions.SimHash) → signature. Docs with no grams keep
    * signature 0, exactly like the kernel's empty-array fold.
    */
  private def simhashCte =
    """t AS (SELECT doc_id, string_split_regex(text, '[ \t\n\r\f]+') AS w FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                   for i in range(1, len(w)-1)]) AS sh
      |  FROM t
      |),
      |g AS (SELECT doc_id, unnest(sh) AS gram FROM s),
      |gh AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv
      |  FROM g
      |),
      |bits AS (
      |  SELECT doc_id, r.j,
      |    CASE WHEN SUM(CASE WHEN ((hv >> CAST(r.j AS INTEGER)) & 1) = 1
      |                       THEN 1 ELSE -1 END) > 0
      |         THEN (CAST(1 AS BIGINT) << CAST(r.j AS INTEGER))
      |         ELSE CAST(0 AS BIGINT) END AS bitv
      |  FROM gh, range(60) r(j)
      |  GROUP BY doc_id, r.j
      |),
      |sim AS (
      |  SELECT s.doc_id, COALESCE(b.sim, 0) AS sim
      |  FROM s LEFT JOIN (
      |    SELECT doc_id, SUM(bitv) AS sim FROM bits GROUP BY doc_id
      |  ) b USING (doc_id)
      |)""".stripMargin

  /** Integer-exact sign-LSH cosine near-dup pair CTE chain — the
    * DuckDB replay of BinaryEmbed.intCosineNearDupPairs (tPct = 30,
    * dim = 64): quantize → md5-parity ±1 hyperplanes → band keys →
    * bucket candidates → exact integer-cosine verdict. Terminal
    * relation `cospairs(id_a, id_b, num, na, nb)` holds the VERIFIED
    * pairs; q_cos_near_dup projects it, q_semantic_clusters closes it
    * transitively.
    */
  private[graft] def cosPairsCte =
    """v AS (
      |  SELECT vec_id AS id,
      |    [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) FOR x IN embedding] AS q
      |  FROM embeddings WHERE embedding IS NOT NULL
      |),
      |w AS (SELECT id, q,
      |  CAST(list_sum([x*x FOR x IN q]) AS BIGINT) AS na FROM v),
      |planes AS (
      |  SELECT t.t, b.b, i.i,
      |    CASE WHEN (('0x' || substr(md5(
      |             t.t::VARCHAR || ':' || b.b::VARCHAR || ':' || i.i::VARCHAR),
      |           1, 15))::BIGINT & 1) = 1
      |         THEN 1 ELSE -1 END AS sgn
      |  FROM range(0, 6) t(t), range(0, 8) b(b), range(1, 65) i(i)
      |),
      |dots AS (
      |  SELECT w.id, p.t, p.b, sum(p.sgn * w.q[CAST(p.i AS INTEGER)]) AS d
      |  FROM w, planes p
      |  GROUP BY w.id, p.t, p.b
      |),
      |keys AS (
      |  SELECT id, t,
      |    CAST(sum(CASE WHEN d >= 0
      |      THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
      |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS key
      |  FROM dots GROUP BY id, t
      |),
      |cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM keys a JOIN keys b ON a.t = b.t AND a.key = b.key AND a.id < b.id
      |),
      |scored AS (
      |  SELECT c.id_a, c.id_b,
      |    CAST(list_sum([wa.q[i] * wb.q[i] for i in range(1, 65)]) AS BIGINT) AS num,
      |    wa.na AS na, wb.na AS nb
      |  FROM cand c
      |  JOIN w wa ON wa.id = c.id_a
      |  JOIN w wb ON wb.id = c.id_b
      |),
      |cospairs AS (
      |  SELECT id_a, id_b, num, na, nb FROM scored
      |  WHERE num > 0
      |    AND 10000 * CAST(num AS HUGEINT) * num >= 900 * CAST(na AS HUGEINT) * nb
      |)""".stripMargin

  /** Brute-force shingle CTEs shared by the near-dup oracles. */
  private def shingleCte =
    """t AS (SELECT doc_id, string_split_regex(text, '[ \t\n\r\f]+') AS w FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                   for i in range(1, len(w)-1)]) AS sh
      |  FROM t
      |),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id
      |)""".stripMargin

  /** Shared CTE chain for the power-iteration oracles: 6 unrolled
    * rounds mirroring PowerIteration.iterate bit-for-bit. dim=64 is
    * the fixture contract (the engine derives it from the data); the
    * explicit sign handling exists because Spark `div` truncates
    * toward zero while DuckDB `//` floors — they agree only on
    * non-negative operands. MATERIALIZED pins each round (default
    * inlining re-derives every earlier round per reference).
    */
  private def pcaCtes: String = {
    val (dim, s1, s2, iters) = (64, 1000000L, 100000L, 6)
    val head =
      s"""WITH e AS MATERIALIZED (SELECT vec_id AS id, j,
         |    CAST(floor(CAST(embedding[j] AS DOUBLE) * $s1 + 0.5)
         |      AS BIGINT) AS q
         |  FROM embeddings, range(1, ${dim + 1}) t(j)
         |  WHERE embedding IS NOT NULL),
         |v0 AS (SELECT j, CAST($s2 AS BIGINT) AS v
         |  FROM range(1, ${dim + 1}) t(j))""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""d$r AS MATERIALIZED (SELECT e.id, sum(e.q * v${r - 1}.v) AS d
         |  FROM e JOIN v${r - 1} USING (j) GROUP BY e.id),
         |w$r AS MATERIALIZED (SELECT e.j, sum(e.q * d$r.d) AS w
         |  FROM e JOIN d$r USING (id) GROUP BY e.j),
         |m$r AS (SELECT max(abs(w)) AS wm FROM w$r),
         |v$r AS (SELECT j, CAST(CASE WHEN w < 0 THEN -1 ELSE 1 END
         |  * ((abs(w) * $s2) // wm) AS BIGINT) AS v
         |  FROM w$r, m$r)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + rounds
  }

  /** Get-or-build a documents-derived artifact table for `dir` —
    * [[Artifacts.getOrBuild]] keyed on the content fingerprint of
    * (doc_id, text), the columns every builder here consumes.
    */
  private def artifact(s: SparkSession, d: String, prefix: String,
      params: String)(build: (DataFrame, String, String) => Unit): String = {
    val corpus = Tables.documents(s, d)
    Artifacts.getOrBuild(corpus, d, prefix, params, col("doc_id"),
      col("text"))(build(corpus, _, _))
  }

  /** The shared BPE tokenizer artifact (merge table of `rounds`). */
  private[graft] def bpeArtifact(s: SparkSession, d: String,
      rounds: Int): String =
    artifact(s, d, "graft_bpe_artifact", s"r$rounds") { (c, tbl, path) =>
      graft.operators.Bpe.buildArtifact(c, col("doc_id"), col("text"),
        rounds, tbl, path)
    }

  /** The per-doc-distinct hashed n-gram relation (_id, _k), saved. */
  private[graft] def gramArtifact(s: SparkSession, d: String,
      n: Int): String =
    artifact(s, d, "graft_gram_artifact", s"g$n") { (c, tbl, path) =>
      TermStats.saveGramTable(TermStats.gramKeys(c, col("doc_id"),
        col("text"), n, distinct = true), tbl, path)
    }

  /** The positional hashed n-gram relation (_id, pos, _k), saved — the
    * input of the shared-gram stats and trim-span twins.
    */
  private[graft] def gramPosArtifact(s: SparkSession, d: String,
      n: Int): String =
    artifact(s, d, "graft_grampos_artifact", s"g$n") { (c, tbl, path) =>
      TermStats.saveGramTable(TermStats.gramPositions(c, col("doc_id"),
        col("text"), n), tbl, path)
    }

  private def bpeOracle(rounds: Int): String =
    bpeCtes(rounds) + (1 to rounds).map(n =>
      s"""SELECT CAST($n AS BIGINT) AS round, ltok AS "left",
         |  rtok AS "right", ltok || rtok AS merged, freq
         |FROM b$n""".stripMargin)
      .mkString("\n", "\nUNION ALL ", "\nORDER BY round")

  /** Corpus ENCODING under the trained vocabulary: the same unrolled
    * round CTEs, but the payload is the FINAL symbol relation t{R} —
    * token usage stats after all merges applied (what
    * [[graft.operators.Bpe.encode]] materializes).
    */
  private def bpeEncodeOracle(rounds: Int): String =
    bpeCtes(rounds) + s"""
      |SELECT tok, CAST(count(*) AS BIGINT) AS n_occ,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM t$rounds GROUP BY tok
      |ORDER BY n_occ DESC, tok LIMIT 50""".stripMargin

  /** Per-language tokens-per-word under the trained BPE: the same
    * unrolled round CTEs, per-doc counts from the final symbol
    * relation t{R}, lang join, integer centi-ratio.
    */
  private def fertilityOracle(rounds: Int): String =
    bpeCtes(rounds) + s"""
      |, pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |    CAST(count(DISTINCT widx) AS BIGINT) AS n_w
      |  FROM t$rounds GROUP BY doc_id)
      |SELECT d.lang,
      |  CAST(sum(pd.n_tok) AS BIGINT) AS n_tokens,
      |  CAST(sum(pd.n_w) AS BIGINT) AS n_words,
      |  CAST(sum(pd.n_tok) AS BIGINT) * 100
      |    // CAST(sum(pd.n_w) AS BIGINT) AS fertility_centi
      |FROM pd JOIN documents d USING (doc_id)
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** The SQL-parity LSH pipeline replayed end to end: md5-prefix gram
    * hashes → mod-p minwise signatures (coefficients inlined from
    * [[graft.functions.MinHashMod.consts]], products exact via
    * HUGEINT) → textual band keys → banded candidate pairs →
    * component-match estimate + exact Jaccard. Mirrors
    * [[graft.operators.Dedup.lshParityAudit]] stage for stage.
    */
  private def lshParityOracle(k: Int, bands: Int): String = {
    val (as, bs) = graft.functions.MinHashMod.consts(k)
    val r = k / bands
    val constRows = (0 until k)
      .map(j => s"(${j + 1}, ${as(j)}, ${bs(j)})").mkString(", ")
    s"""WITH t AS (SELECT doc_id,
       |    string_split_regex(text, '[ \\t\\n\\r\\f]+') AS w
       |  FROM documents),
       |s AS (SELECT doc_id,
       |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                   for i in range(1, len(w)-1)]) AS sh
       |  FROM t),
       |gh AS MATERIALIZED (SELECT doc_id,
       |    ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(sh) AS g FROM s)),
       |cn(j, a, b) AS (VALUES $constRows),
       |sigc AS MATERIALIZED (
       |  SELECT doc_id, cn.j,
       |    min(CAST((CAST(cn.a AS HUGEINT) * gh.h + cn.b)
       |             % 2305843009213693951 AS BIGINT)) AS v
       |  FROM gh CROSS JOIN cn GROUP BY 1, 2),
       |sig AS MATERIALIZED (
       |  SELECT doc_id, list(v ORDER BY j) AS sig FROM sigc GROUP BY 1),
       |bd AS MATERIALIZED (
       |  SELECT doc_id, rb.b AS band,
       |    array_to_string(sig[rb.b*$r+1 : rb.b*$r+$r], ',') AS bk
       |  FROM sig CROSS JOIN range(0, $bands) rb(b)),
       |cand AS MATERIALIZED (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS n_shared_bands
       |  FROM bd x JOIN bd y ON x.band = y.band AND x.bk = y.bk
       |    AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |mm AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(sum(CASE WHEN xa.v = xb.v THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_match_sig
       |  FROM cand c
       |  JOIN sigc xa ON xa.doc_id = c.doc_a
       |  JOIN sigc xb ON xb.doc_id = c.doc_b AND xb.j = xa.j
       |  GROUP BY 1, 2),
       |hs AS (SELECT doc_id, list(h) AS hs FROM gh GROUP BY 1),
       |ej AS (
       |  SELECT c.doc_a, c.doc_b, c.n_shared_bands, m.n_match_sig,
       |    len(list_intersect(a.hs, b.hs)) AS ovl,
       |    len(a.hs) AS na, len(b.hs) AS nb
       |  FROM cand c
       |  JOIN mm m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
       |  JOIN hs a ON a.doc_id = c.doc_a
       |  JOIN hs b ON b.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, n_shared_bands, n_match_sig,
       |  CAST(n_match_sig AS DOUBLE) / ${k}.0 AS est_jaccard,
       |  CAST(ovl AS DOUBLE) / (na + nb - ovl) AS exact_jaccard
       |FROM ej ORDER BY doc_a, doc_b""".stripMargin
  }

  /** The BPE training loop unrolled as DuckDB CTEs — mirrors
    * [[graft.operators.Bpe.train]] round for round: same char
    * symbols (lowercased, [[graft.operators.TextStats.WsRegex]]
    * words), same (freq DESC, left, right) argmax, and the same
    * greedy run-parity merge rule (within each maximal run of
    * consecutive match positions, merge the even offsets). A round
    * whose best pair has freq < 2 selects nothing, so its branch
    * contributes zero rows — the oracle's form of the trainer's
    * early stop.
    */
  private def bpeCtes(rounds: Int): String = {
    val b = new StringBuilder
    b ++= """WITH wd AS MATERIALIZED (
            |  SELECT doc_id, generate_subscripts(ws, 1) AS widx,
            |         unnest(ws) AS w
            |  FROM (SELECT doc_id,
            |      list_filter(string_split_regex(lower(text),
            |        '[ \t\n\r\f]+'), x -> x <> '') AS ws
            |    FROM documents WHERE text IS NOT NULL)),
            |t0 AS MATERIALIZED (
            |  SELECT doc_id, widx, generate_subscripts(cs, 1) AS pos,
            |         unnest(cs) AS tok
            |  FROM (SELECT doc_id, widx,
            |      [substr(w, i, 1) for i in range(1, len(w) + 1)] AS cs
            |    FROM wd))""".stripMargin
    for (n <- 1 to rounds) {
      val prev = s"t${n - 1}"
      b ++= s""",
              |p$n AS MATERIALIZED (
              |  SELECT ltok, rtok, CAST(count(*) AS BIGINT) AS freq
              |  FROM (SELECT tok AS ltok, lead(tok) OVER
              |      (PARTITION BY doc_id, widx ORDER BY pos) AS rtok
              |    FROM $prev)
              |  WHERE rtok IS NOT NULL GROUP BY 1, 2),
              |b$n AS MATERIALIZED (
              |  SELECT ltok, rtok, freq FROM p$n WHERE freq >= 2
              |  ORDER BY freq DESC, ltok, rtok LIMIT 1),
              |m$n AS MATERIALIZED (
              |  SELECT doc_id, widx, pos, tok,
              |    row_number() OVER wn$n AS idx,
              |    lead(tok) OVER wn$n AS nx,
              |    (tok = (SELECT ltok FROM b$n) AND
              |     lead(tok) OVER wn$n = (SELECT rtok FROM b$n)) AS m
              |  FROM $prev
              |  WINDOW wn$n AS (PARTITION BY doc_id, widx ORDER BY pos)),
              |g$n AS MATERIALIZED (
              |  SELECT *, sum(CASE WHEN m THEN 1 ELSE 0 END) OVER
              |      (PARTITION BY doc_id, widx ORDER BY pos
              |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS mi
              |  FROM m$n),
              |h$n AS MATERIALIZED (
              |  SELECT *, (m AND (mi - min(mi) OVER
              |      (PARTITION BY doc_id, widx, idx - mi, m)) % 2 = 0)
              |      AS mrg
              |  FROM g$n),
              |t$n AS MATERIALIZED (
              |  SELECT doc_id, widx, pos,
              |    CASE WHEN mrg THEN tok || nx ELSE tok END AS tok
              |  FROM (SELECT *, coalesce(lag(mrg) OVER
              |      (PARTITION BY doc_id, widx ORDER BY pos), false)
              |      AS consumed
              |    FROM h$n)
              |  WHERE NOT consumed)""".stripMargin
    }
    b.toString
  }

  /** The MMR selection loop unrolled round for round — the
    * [[kcenterOracle]] recipe with the objective flipped to
    * rel − running-max-redundancy (greatest instead of least,
    * argmax ordered (rel − red) DESC then vec_id).
    */
  private def mmrOracle(k: Int, queryId: Long): String = {
    val b = new StringBuilder
    b ++= s"""WITH q AS (
             |  SELECT vec_id,
             |    [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)
             |     FOR x IN embedding] AS q
             |  FROM embeddings WHERE embedding IS NOT NULL
             |),
             |qx AS MATERIALIZED (
             |  SELECT vec_id, generate_subscripts(q, 1) AS pos,
             |         unnest(q) AS v FROM q),
             |qv AS MATERIALIZED (SELECT pos, v FROM qx
             |        WHERE vec_id = $queryId),
             |rel AS MATERIALIZED (SELECT x.vec_id,
             |          CAST(sum(x.v * qv.v) AS BIGINT) AS rel
             |        FROM qx x JOIN qv ON qv.pos = x.pos
             |        WHERE x.vec_id <> $queryId GROUP BY 1),
             |s1 AS MATERIALIZED (SELECT vec_id, rel,
             |          CAST(0 AS BIGINT) AS red
             |        FROM rel ORDER BY rel DESC, vec_id LIMIT 1)""".stripMargin
    for (t <- 2 to k) {
      val p = t - 1
      val prior = (1 until t).map(j => s"SELECT vec_id FROM s$j")
        .mkString(" UNION ALL ")
      // redundancy relation after p selections: running max dot
      b ++= s""",
              |cc$p AS MATERIALIZED (SELECT pos, v FROM qx
              |         WHERE vec_id = (SELECT vec_id FROM s$p)),
              |dd$p AS MATERIALIZED (SELECT x.vec_id,
              |           CAST(sum(x.v * c.v) AS BIGINT) AS d
              |         FROM qx x JOIN cc$p c ON c.pos = x.pos
              |         WHERE x.vec_id <> $queryId GROUP BY 1),
              |md$p AS MATERIALIZED (""".stripMargin
      if (p == 1) b ++= s"""
              |  SELECT vec_id, d AS red FROM dd1)""".stripMargin
      else b ++= s"""
              |  SELECT m.vec_id, greatest(m.red, dd$p.d) AS red
              |  FROM md${p - 1} m JOIN dd$p USING (vec_id))""".stripMargin
      b ++= s""",
              |s$t AS MATERIALIZED (
              |  SELECT r.vec_id, r.rel, m.red
              |  FROM rel r JOIN md$p m USING (vec_id)
              |  WHERE r.vec_id NOT IN ($prior)
              |  ORDER BY r.rel - m.red DESC, r.vec_id LIMIT 1)""".stripMargin
    }
    b ++= (1 to k).map(t =>
      s"""SELECT CAST($t AS BIGINT) AS sel_rank, vec_id, rel, red,
         |  rel - red AS mmr FROM s$t""".stripMargin)
      .mkString("\n", "\nUNION ALL ", "\nORDER BY sel_rank")
    b.toString
  }

  /** The greedy k-center traversal unrolled as DuckDB CTEs — mirrors
    * [[graft.operators.Coreset.kCenter]] step for step: same
    * quantization as [[kmeansCte]], lowest-id seed, then per step the
    * farthest point (ties → lowest id) among the not-yet-selected,
    * with the running min-distance relation updated by least().
    * Distances are direct Σ(xᵥ−cᵥ)² sums — identical integers to the
    * engine's nq − 2·q·c + nc expansion.
    */
  private def kcenterOracle(k: Int, assign: Boolean = false): String = {
    val b = new StringBuilder
    b ++= """WITH q AS (
            |  SELECT vec_id,
            |    [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)
            |     FOR x IN embedding] AS q
            |  FROM embeddings WHERE embedding IS NOT NULL
            |),
            |qx AS MATERIALIZED (
            |  SELECT vec_id, generate_subscripts(q, 1) AS pos,
            |         unnest(q) AS v FROM q),
            |s1 AS MATERIALIZED (SELECT min(vec_id) AS vec_id FROM q),
            |cc1 AS MATERIALIZED (SELECT pos, v FROM qx
            |        WHERE vec_id = (SELECT vec_id FROM s1)),
            |dd1 AS MATERIALIZED (SELECT x.vec_id,
            |          CAST(sum((x.v - c.v) * (x.v - c.v)) AS BIGINT) AS d
            |        FROM qx x JOIN cc1 c ON c.pos = x.pos
            |        GROUP BY 1),
            |md1 AS MATERIALIZED (SELECT vec_id, d FROM dd1)""".stripMargin
    for (t <- 2 to k) {
      val prior = (1 until t).map(j => s"SELECT vec_id FROM s$j")
        .mkString(" UNION ALL ")
      b ++= s""",
              |s$t AS MATERIALIZED (SELECT vec_id, d FROM md${t - 1}
              |        WHERE vec_id NOT IN ($prior)
              |        ORDER BY d DESC, vec_id LIMIT 1)""".stripMargin
      // the per-center distance relation feeds the next min-distance
      // step; assignment mode needs it for the LAST center too
      if (t < k || assign) {
        b ++= s""",
                |cc$t AS MATERIALIZED (SELECT pos, v FROM qx
                |         WHERE vec_id = (SELECT vec_id FROM s$t)),
                |dd$t AS MATERIALIZED (SELECT x.vec_id,
                |           CAST(sum((x.v - c.v) * (x.v - c.v)) AS BIGINT)
                |             AS d
                |         FROM qx x JOIN cc$t c ON c.pos = x.pos
                |         GROUP BY 1)""".stripMargin
      }
      if (t < k) {
        b ++= s""",
                |md$t AS MATERIALIZED (
                |  SELECT m.vec_id, least(m.d, dd$t.d) AS d
                |         FROM md${t - 1} m
                |         JOIN dd$t ON dd$t.vec_id = m.vec_id)""".stripMargin
      }
    }
    if (!assign) {
      b ++= "\nSELECT CAST(1 AS BIGINT) AS sel_rank, vec_id, " +
        "CAST(NULL AS BIGINT) AS dist FROM s1"
      for (t <- 2 to k)
        b ++= s"\nUNION ALL SELECT CAST($t AS BIGINT), vec_id, " +
          s"CAST(d AS BIGINT) FROM s$t"
      b ++= "\nORDER BY sel_rank"
    } else {
      // nearest selected center per vector, ties -> lowest center id
      val branches = (1 to k).map(t =>
        s"SELECT vec_id, (SELECT vec_id FROM s$t) AS center_id, d " +
          s"FROM dd$t").mkString("\n  UNION ALL ")
      b ++= s""",
              |alld AS (
              |  $branches),
              |ranked AS (SELECT vec_id, center_id, d, row_number() OVER
              |  (PARTITION BY vec_id ORDER BY d, center_id) AS rn
              |  FROM alld)
              |SELECT vec_id, center_id, CAST(d AS BIGINT) AS dist
              |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin
    }
    b.toString
  }

  /** The 2-round integer Lloyd recursion as DuckDB CTEs — shared
    * between the assignment and SemDeDup oracles. Mirrors
    * [[graft.operators.KMeans]] stage for stage (same quantization,
    * seed rule, tie-break, and sign-explicit centroid division).
    */
  private def kmeansCte: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    [CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)
      |     FOR x IN embedding] AS q
      |  FROM embeddings WHERE embedding IS NOT NULL
      |),
      |qx AS (SELECT vec_id, generate_subscripts(q, 1) AS pos,
      |              unnest(q) AS v FROM q),
      |seeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cl
      |          FROM q ORDER BY vec_id LIMIT 8),
      |c0 AS (SELECT s.cl, qx.pos, qx.v AS c
      |       FROM seeds s JOIN qx ON qx.vec_id = s.vec_id),
      |d1 AS (SELECT qx.vec_id, c0.cl,
      |         sum((qx.v - c0.c) * (qx.v - c0.c)) AS dist
      |       FROM qx JOIN c0 ON qx.pos = c0.pos GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, cl, dist, row_number() OVER
      |         (PARTITION BY vec_id ORDER BY dist, cl) AS rn FROM d1),
      |a1f AS (SELECT vec_id, cl FROM a1 WHERE rn = 1),
      |c1s AS (SELECT a.cl, qx.pos, sum(qx.v) AS sm, count(*) AS n
      |        FROM a1f a JOIN qx ON qx.vec_id = a.vec_id GROUP BY 1, 2),
      |c1 AS (SELECT cl, pos,
      |         CAST(CASE WHEN sm >= 0 THEN sm // n
      |              ELSE -((-sm) // n) END AS BIGINT) AS c
      |       FROM c1s
      |       UNION ALL
      |       SELECT c0.cl, c0.pos, c0.c FROM c0
      |       WHERE c0.cl NOT IN (SELECT cl FROM c1s)),
      |d2 AS (SELECT qx.vec_id, c1.cl,
      |         sum((qx.v - c1.c) * (qx.v - c1.c)) AS dist
      |       FROM qx JOIN c1 ON qx.pos = c1.pos GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, cl, dist, row_number() OVER
      |         (PARTITION BY vec_id ORDER BY dist, cl) AS rn FROM d2)""".stripMargin
}
