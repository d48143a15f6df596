"""Scalar function queries (SURVEY §2.8 F1-F12): JSON, date/time,
string, regex, arithmetic — the in-flight message-shaping functions of
the reference's producers/consumers, expressed as JVM-side built-ins
(never row-at-a-time Python).

Registry note (round 2): functions sharing a table are folded into
composite checked queries (one driver CORRECTNESS row each) — e.g.
``fn_scalar_suite`` carries the arithmetic, coalesce/default and
literal-tag surfaces in one plan. Every individual built-in is still
exercised; only the checking granularity changed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crypto_data_pipeline_with_kafka_spark.catalog import load_table, local_relation
from crypto_data_pipeline_with_kafka_spark.operators.fusion import (
    ndcg_at_k,
    rrf_fuse,
)
from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
    brute_force_topk,
)
from crypto_data_pipeline_with_kafka_spark.plans.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "fn_json_roundtrip",
    """
    SELECT event_id,
           to_json(struct_pack(event_id := event_id, event_type := event_type)) AS payload,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_variant,
           event_type AS vt_type
    FROM events
    """,
    doc="F1+F2 in one checked plan: JSON serialize — the producers' "
    "json.dumps (producer_prices.py:13), engine: to_json(struct(...)) "
    "for Kafka value columns (S3 shape) — and JSON deserialize twice "
    "over: the consumers' json.loads (consumer_prices.py:51) as "
    "get_json_object on the in-flight payload column, AND (r5) the "
    "Spark-4-native VARIANT path — parse_json once, typed "
    "try_variant_get extraction — which at scale parses each JSON "
    "document ONCE into a binary columnar encoding instead of "
    "re-parsing per get_json_object call. Both extractions are "
    "value-checked against DuckDB's independent JSON reader "
    "(k_variant) and against the pre-serialization column itself "
    "(vt_type: serialize → parse_json → variant_get must be the "
    "identity)",
    tags=("json",),
)
def fn_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    payload = F.to_json(F.struct("event_id", "event_type"))
    return _t(spark, sf_dir, "events").select(
        "event_id",
        payload.alias("payload"),
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
        F.try_variant_get(F.parse_json("props"), "$.k", "int").alias("k_variant"),
        F.try_variant_get(F.parse_json(payload), "$.event_type", "string").alias(
            "vt_type"
        ),
    )


@register(
    "fn_time_roundtrip",
    """
    WITH s AS (
      SELECT o_orderkey, o_orderdate,
             strftime(o_orderdate, '%d %b %Y %H:%M:%S') || ' +0000' AS rfc
      FROM orders
    )
    SELECT 'ev' AS part, event_id AS id,
           epoch_ms(ts) AS ts_ms,
           make_timestamp(epoch_ms(ts) * 1000) AS ts_from_ms,
           CAST(ts AS VARCHAR) AS iso_str,
           CAST(CAST(ts AS VARCHAR) AS TIMESTAMP) AS parsed,
           CAST(NULL AS INTEGER) AS yr, CAST(NULL AS INTEGER) AS mo,
           CAST(NULL AS INTEGER) AS dy,
           CAST(NULL AS TIMESTAMP) AS month_start,
           CAST(NULL AS VARCHAR) AS rfc,
           CAST(NULL AS TIMESTAMP) AS parsed_rfc
    FROM events
    UNION ALL
    SELECT 'ord' AS part, o_orderkey AS id,
           CAST(NULL AS BIGINT) AS ts_ms,
           CAST(NULL AS TIMESTAMP) AS ts_from_ms,
           CAST(NULL AS VARCHAR) AS iso_str,
           CAST(NULL AS TIMESTAMP) AS parsed,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(day(o_orderdate) AS INTEGER) AS dy,
           date_trunc('month', o_orderdate) AS month_start,
           rfc,
           strptime(rfc, '%d %b %Y %H:%M:%S %z')::TIMESTAMP AS parsed_rfc
    FROM s
    """,
    doc="F3+F4+F5 plus date-part extraction in one checked plan, tagged "
    "and unioned (registry fold — frees a slot for the stream-stream "
    "join). 'ev' leg: epoch-ms ↔ timestamp — the consumer's "
    "datetime.fromtimestamp(ms/1000) (consumer_prices.py:76-78) with "
    "UTC pinned instead of local-TZ — and the ISO-8601 string round "
    "trip (the producer's datetime.now().isoformat(), "
    "producer_prices.py:58). 'ord' leg: year/month/day extraction + "
    "month truncation (engine-side rollup keys for the reference's "
    "Grafana time axes) and the F4 RFC-822-style date format/parse "
    "round trip (the news pubDate parse, producer_news.py:61; Spark ≥3 "
    "refuses day-NAME parsing, so the engine strips the 'Mon, ' prefix "
    "— see sources/kafka_messages.py — and this leg checks the "
    "remainder)",
    tags=("time", "string"),
)
def fn_time_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.lit("ev").alias("part"),
        F.col("event_id").alias("id"),
        F.unix_millis("ts").alias("ts_ms"),
        F.timestamp_millis(F.unix_millis("ts")).alias("ts_from_ms"),
        F.col("ts").cast("string").alias("iso_str"),
        F.to_timestamp(F.col("ts").cast("string")).alias("parsed"),
        F.lit(None).cast("int").alias("yr"),
        F.lit(None).cast("int").alias("mo"),
        F.lit(None).cast("int").alias("dy"),
        F.lit(None).cast("timestamp").alias("month_start"),
        F.lit(None).cast("string").alias("rfc"),
        F.lit(None).cast("timestamp").alias("parsed_rfc"),
    )
    rfc = F.concat(
        F.date_format("o_orderdate", "dd MMM yyyy HH:mm:ss"), F.lit(" +0000")
    )
    ords = _t(spark, sf_dir, "orders").select(
        F.lit("ord").alias("part"),
        F.col("o_orderkey").alias("id"),
        F.lit(None).cast("long").alias("ts_ms"),
        F.lit(None).cast("timestamp").alias("ts_from_ms"),
        F.lit(None).cast("string").alias("iso_str"),
        F.lit(None).cast("timestamp").alias("parsed"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        rfc.alias("rfc"),
        F.to_timestamp(rfc, "dd MMM yyyy HH:mm:ss Z").alias("parsed_rfc"),
    )
    return ev.unionByName(ords)


@register(
    "fn_string_suite",
    r"""
    WITH planted AS (
      SELECT doc_id, text, lang, source,
             CASE WHEN doc_id % 13 = 0 THEN
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com via https://ex.example.com/p/'
                    || CAST(doc_id AS VARCHAR)
                    || ' tel +1 (555) 010-' || CAST(doc_id % 10000 AS VARCHAR)
             ELSE text END AS ptext
      FROM documents
    )
    SELECT doc_id,
           trim(text) AS trimmed,
           upper(source) AS source_uc,
           concat_ws('-', lang, source) AS lang_source,
           CAST(length(text) AS BIGINT) AS text_len,
           substring(text, 1, 10) AS prefix10,
           nullif(regexp_extract(text, 'the ([a-z]+)', 1), '') AS word_after_the,
           CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT) AS novowel_len,
           CAST(len(regexp_extract_all(ptext, 'https?://[^\s]+')) AS BIGINT) AS n_url,
           CAST(len(regexp_extract_all(ptext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(ptext, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(ptext,
                 'https?://[^\s]+', '[PII]', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
                 '\+?[0-9][0-9()\- ]{6,}[0-9]', '[PII]', 'g')) AS redacted_hash,
           regexp_replace(regexp_replace(text, '[<>&]', '', 'g'),
                 '^\s+|\s+$', '', 'g') || ' tail & end' AS html_paragraphs,
           CASE WHEN doc_id % 2 = 0 THEN
             'https://www.news.ex' || CAST(doc_id % 7 AS VARCHAR)
               || '.co.uk/articles/' || CAST(doc_id AS VARCHAR)
               || '?a=1&b=2&id=' || CAST(doc_id % 50 AS VARCHAR)
           ELSE
             'http://cdn.site' || CAST(doc_id % 7 AS VARCHAR)
               || '.com/p/' || CAST(doc_id AS VARCHAR) || '?z=9'
           END AS canon_url,
           CASE WHEN doc_id % 2 = 0 THEN
             'ex' || CAST(doc_id % 7 AS VARCHAR) || '.co.uk'
           ELSE 'site' || CAST(doc_id % 7 AS VARCHAR) || '.com'
           END AS url_domain,
           CAST(count(*) OVER (PARTITION BY
             CASE WHEN doc_id % 2 = 0 THEN
               'ex' || CAST(doc_id % 7 AS VARCHAR) || '.co.uk'
             ELSE 'site' || CAST(doc_id % 7 AS VARCHAR) || '.com'
             END) AS BIGINT) AS domain_docs,
           md5(trim(regexp_replace(lower(nfc_normalize(
             '  CaFE' || chr(769) || ' ' || text || chr(9) || 'X  Y'
             || chr(10))), '\s+', ' ', 'g'))) AS norm_hash
    FROM planted
    """,
    doc="F6/F7/F8 in one checked plan: trim / case / concat_ws "
    "key-building (the producer's f-string Kafka key, "
    "producer_prices.py:63), length / substring, regexp_extract / "
    "regexp_replace (the RSS validators & strip-tags approximation, "
    "producer_news.py:29-36; UD2's extraction shape); nullif('') "
    "normalizes no-match between engines. PII leg (training-data "
    "scrubbing): the synthetic corpus is PII-free, so every 13th doc "
    "gets a deterministic planted email + URL + phone built from its "
    "id IN THE QUERY on both engines; per-kind counts (pii_counts) and "
    "the md5 of the redacted text (redact_pii — URL rule first, so "
    "userinfo inside a URL is consumed whole) are then value-checked. "
    "The ipv4 pattern needs lookarounds DuckDB's RE2 cannot compile — "
    "it stays pytest-attested (tests/test_dedup_similarity.py). "
    "HTML leg (UD2, producer_news.py:68-70): article HTML is synthesized "
    "from the sanitized doc text IN THE QUERY (wrapped in <p>, plus a "
    "script block and an entity-bearing second paragraph), run through "
    "html_paragraph_text Spark-side, and value-checked against the "
    "oracle's INDEPENDENT analytic derivation of the expected text — "
    "a stronger check than re-running the same regex chain (RE2 lacks "
    "the backreference the script-strip uses; BeautifulSoup semantics "
    "are pinned per-construct in test_html_paragraph_text_*). "
    "URL leg (r14, functions/urls.py — the reference dedups news by "
    "RAW url equality, producer_news.py:45,56 / consumer_news.py:"
    "44-47, so utm-tagged re-shares ingest twice): a per-doc planted "
    "URL with upper-cased scheme+host, default port, userinfo-free "
    "host, tracking params (utm_*/gclid/yclid), unsorted survivors "
    "and a fragment run through canonicalize_url (parse_url parts + "
    "in-row split/filter/array_sort — no UDF) and "
    "registrable_domain (multi-part-TLD heuristic, both the .co.uk "
    "and plain-TLD branches exercised on alternating docs); the "
    "oracle states the EXPECTED canonical string and domain "
    "analytically (the HTML leg's independent-derivation discipline, "
    "stronger than replaying the same parser), and domain_docs "
    "value-checks the per-registrable-domain rollup (window count — "
    "the domain-cap / crawl-frequency stat). "
    "Norm leg (r14, functions/text.py::normalize_text — the CCNet/"
    "RefinedWeb normalize-before-hash step): each doc wrapped in a "
    "planted messy affix (DECOMPOSED e+U+0301, mixed case, tab/"
    "newline/double spaces) runs Unicode-NFC (Arrow-batched stdlib "
    "unicodedata — the one step the JVM lacks a built-in for; the "
    "sentiment_pandas_udf exception class) then JVM lower/whitespace-"
    "collapse/trim, md5-pinned against DuckDB's nfc_normalize/lower/"
    "regexp_replace/trim applied in the SAME order (case-mapping is "
    "not NFC-commutative in general)",
    tags=("string", "regex", "pii", "url", "normalize"),
)
def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_pipeline_with_kafka_spark.functions.text import (
        html_paragraph_text,
        normalize_text,
        pii_counts,
        redact_pii,
    )
    from crypto_data_pipeline_with_kafka_spark.functions.urls import (
        canonicalize_url,
        registrable_domain,
    )

    _RE2_KINDS = ("url", "email", "phone")
    did = F.col("doc_id")
    # planted URL (URL leg): worst-case-messy on purpose — case, default
    # port, tracking params out of order, fragment; even docs exercise
    # the multi-part-TLD branch, odd docs the plain-TLD branch
    planted_url = F.when(
        did % 2 == 0,
        F.concat(
            F.lit("HTTPS://WWW.News.Ex"),
            (did % 7).cast("string"),
            F.lit(".CO.UK:443/articles/"),
            did.cast("string"),
            F.lit("/?utm_source=feed&id="),
            (did % 50).cast("string"),
            F.lit("&utm_campaign=x&b=2&a=1#frag"),
        ),
    ).otherwise(
        F.concat(
            F.lit("HTTP://CDN.Site"),
            (did % 7).cast("string"),
            F.lit(".COM:80/p/"),
            did.cast("string"),
            F.lit("/?gclid=g"),
            did.cast("string"),
            F.lit("&z=9&yclid=tw"),
        ),
    )
    url_domain = registrable_domain(planted_url)
    planted = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com via https://ex.example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" tel +1 (555) 010-"),
            (F.col("doc_id") % 10000).cast("string"),
        ),
    ).otherwise(F.col("text"))
    counts = pii_counts(planted, kinds=_RE2_KINDS)
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.trim("text").alias("trimmed"),
        F.upper("source").alias("source_uc"),
        F.concat_ws("-", "lang", "source").alias("lang_source"),
        F.length("text").cast("long").alias("text_len"),
        F.substring("text", 1, 10).alias("prefix10"),
        F.nullif(F.regexp_extract("text", r"the ([a-z]+)", 1), F.lit("")).alias(
            "word_after_the"
        ),
        F.length(F.regexp_replace("text", r"[aeiou]", "")).cast("long").alias(
            "novowel_len"
        ),
        counts["url"].alias("n_url"),
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        F.md5(redact_pii(planted, kinds=_RE2_KINDS)).alias("redacted_hash"),
        html_paragraph_text(
            F.concat(
                F.lit("<div><p> "),
                F.regexp_replace("text", r"[<>&]", ""),
                F.lit(
                    " </p><script>var a='<p>no</p>';</script>"
                    "<p>tail &amp; end</p></div>"
                ),
            )
        ).alias("html_paragraphs"),
        canonicalize_url(planted_url).alias("canon_url"),
        url_domain.alias("url_domain"),
        F.count(F.lit(1))
        .over(Window.partitionBy(url_domain))
        .cast("long")
        .alias("domain_docs"),
        # norm leg (r14): normalize_text end to end — a planted messy
        # prefix/suffix (DECOMPOSED e+U+0301, mixed case, tab/newline/
        # double spaces) wraps each doc; the md5 pins the Arrow NFC
        # hop + JVM lower/collapse/trim against DuckDB's
        # nfc_normalize/lower/regexp_replace/trim in the same order
        F.md5(
            normalize_text(
                F.concat(
                    F.lit("  CaFE\u0301 "),  # decomposed: E + U+0301
                    F.col("text"),
                    F.lit("\tX  Y\n"),
                )
            )
        ).alias("norm_hash"),
    )


@register(
    "fn_scalar_suite",
    """
    SELECT event_id,
           value * 2 - 1 AS scaled,
           value / (value + 1) AS ratio,
           abs(value - 100) AS dist100,
           CAST(floor(value) AS BIGINT) AS flr,
           CAST(ceil(value) AS BIGINT) AS cl,
           greatest(value, 100.0) AS g, least(value, 100.0) AS l,
           coalesce(json_extract_string(props, '$.missing'), '1h') AS with_default,
           coalesce(nullif(event_type, 'error'), 'unknown') AS type_or_unknown,
           'SMA' AS tag_name, 14 AS window_len
    FROM events
    """,
    doc="F9+F10+F11 in one checked plan: column arithmetic/comparison "
    "surface (spark_job_1.py:32-45 — identical IEEE expression trees in "
    "both engines), coalesce/default fallbacks (the consumer's "
    "data.get('interval','1h'), consumer_prices.py:63), and literal tag "
    "columns (the reference's F.lit('SMA') branch tags, spark_job_1.py:29)",
    tags=("scalar",),
)
def fn_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = F.col("value")
    return _t(spark, sf_dir, "events").select(
        "event_id",
        (v * 2 - 1).alias("scaled"),
        (v / (v + 1)).alias("ratio"),
        F.abs(v - 100).alias("dist100"),
        F.floor(v).cast("long").alias("flr"),
        F.ceil(v).cast("long").alias("cl"),
        F.greatest(v, F.lit(100.0)).alias("g"),
        F.least(v, F.lit(100.0)).alias("l"),
        F.coalesce(F.get_json_object("props", "$.missing"), F.lit("1h")).alias(
            "with_default"
        ),
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("unknown")).alias(
            "type_or_unknown"
        ),
        F.lit("SMA").alias("tag_name"),
        F.lit(14).alias("window_len"),
    )


# curate leg (r14): stats-identity attestation of the curate_corpus
# COMPOSITION (curation.py) — the one product entry point whose stages
# are each oracle-attested but whose cross-stage accounting previously
# had only an integration pytest. A deterministic planted corpus is
# derived from `documents` IDENTICALLY on both sides (a doc_id%8 base,
# NEGATIVE-id exact clones of the %24 rows (-1-d: disjoint from
# any real non-negative doc_id at EVERY scale) and near-dup
# partners with one prepended token on the %40 rows (-1000000001-d),
# and three literal
# junk docs that each trip exactly one gate: a 5-word doc and an
# all-same-token doc for the two quality legs, an 8-word-block-x4 doc
# for the dup-trigram repetition leg), run through the DEFAULT
# pipeline (exact dedup -> quality/repetition gates -> MinHash LSH
# near-dup resolution, optional stages off), and the engine's
# returned per-stage stats dict is value-checked against a full DuckDB
# re-derivation of every stage flag — the exact-keep window, the
# token/distinct-ratio gates, the gated bigram/trigram evidence-floor
# repetition rule, and the shingle->signature->band->verify->
# components->keep-best survivor chain (the dedup_minhash_lsh oracle
# machinery re-scoped to the gated survivors). The off stages' zero
# counts are asserted literally, so an off stage that ever dropped
# rows breaks the hash. CTEs consumed inside or below the recursive
# components CTE are MATERIALIZED — DuckDB otherwise re-evaluates the
# whole upstream chain once per fixpoint iteration (measured: 300+ s
# inlined vs 0.3 s materialized at sf0.01).
_CURATE_JUNK_QUALITY = "only five words here now"
_CURATE_JUNK_RATIO = " ".join(["dup"] * 30)
_CURATE_JUNK_REP = " ".join(["r1 r2 r3 r4 r5 r6 r7 r8"] * 4)
_CURATE_SIG_COLS = ",\n         ".join(
    f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(12)
)
_CURATE_BANDS = "\n      UNION ALL ".join(
    f"SELECT doc_id, '{b}' AS band_id, h{b * 3} || h{b * 3 + 1} || "
    f"h{b * 3 + 2} AS band_key FROM csig"
    for b in range(4)
)
_CURATE_ZERO_STATS = (
    "url_dups_dropped",
    "model_quality_dropped",
    "decontam_dropped",
    "semantic_decontam_dropped",
    "winnow_dropped",
    "dense_neardup_dropped",
    "image_neardup_dropped",
    "audio_neardup_dropped",
    "video_neardup_dropped",
)
_CURATE_SQL = f"""
    WITH RECURSIVE
    ccorp AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 8 = 0 AND text IS NOT NULL
      UNION ALL
      SELECT -1 - doc_id, text FROM documents
      WHERE doc_id % 24 = 0 AND text IS NOT NULL
      UNION ALL
      SELECT -1000000001 - doc_id, 'zzz ' || text FROM documents
      WHERE doc_id % 40 = 0 AND text IS NOT NULL
      UNION ALL SELECT -2000000001, '{_CURATE_JUNK_QUALITY}'
      UNION ALL SELECT -2000000002, '{_CURATE_JUNK_RATIO}'
      UNION ALL SELECT -2000000003, '{_CURATE_JUNK_REP}'
    ),
    cex AS (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
               AS ek
      FROM ccorp
    ),
    cq AS (
      SELECT doc_id, text, ek, ws,
             len(ws) >= 20
             AND CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) >= 0.2
               AS qk
      FROM (SELECT doc_id, text, ek, string_split(trim(text), ' ') AS ws
            FROM cex)
    ),
    cg2 AS (
      SELECT doc_id,
             array_to_string(ws[CAST(i AS INT) : CAST(i + 1 AS INT)], ' ')
               AS g
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
            FROM cq WHERE ek AND qk AND len(ws) >= 2)
    ),
    cg3 AS (
      SELECT doc_id,
             array_to_string(ws[CAST(i AS INT) : CAST(i + 2 AS INT)], ' ')
               AS g
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
            FROM cq WHERE ek AND qk AND len(ws) >= 3)
    ),
    cr2 AS (
      SELECT doc_id, max(c) AS top2c, sum(c) AS n2
      FROM (SELECT doc_id, g, count(*) AS c FROM cg2 GROUP BY doc_id, g)
      GROUP BY doc_id
    ),
    cr3 AS (
      SELECT doc_id, coalesce(sum(CASE WHEN c >= 2 THEN c END), 0) AS dup3c,
             sum(c) AS n3
      FROM (SELECT doc_id, g, count(*) AS c FROM cg3 GROUP BY doc_id, g)
      GROUP BY doc_id
    ),
    crep AS MATERIALIZED (
      SELECT q.doc_id, q.text, q.ek, q.qk, q.ws,
             NOT coalesce(r2.n2 >= 4
                          AND CAST(r2.top2c AS DOUBLE) / r2.n2 > 0.2, FALSE)
             AND NOT coalesce(r3.n3 >= 4
                              AND CAST(r3.dup3c AS DOUBLE) / r3.n3 > 0.3,
                              FALSE) AS rk
      FROM cq q
      LEFT JOIN cr2 r2 ON r2.doc_id = q.doc_id
      LEFT JOIN cr3 r3 ON r3.doc_id = q.doc_id
    ),
    csh AS MATERIALIZED (
      SELECT doc_id,
             unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                   for i in range(1, len(ws) - 1)]))
               AS shingle
      FROM crep WHERE ek AND qk AND rk AND len(ws) >= 3
    ),
    csizes AS (SELECT doc_id, count(*) AS n_sh FROM csh GROUP BY doc_id),
    cinter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM csh a JOIN csh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    cjac AS (
      SELECT id_a, id_b,
             CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
      FROM cinter
      JOIN csizes sa ON sa.doc_id = id_a
      JOIN csizes sb ON sb.doc_id = id_b
    ),
    csig AS (SELECT doc_id, {_CURATE_SIG_COLS} FROM csh GROUP BY doc_id),
    cbandl AS (
      {_CURATE_BANDS}
    ),
    ccand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM cbandl a
      JOIN cbandl b ON a.band_id = b.band_id AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
    ),
    cpairs AS (
      SELECT c.id_a, c.id_b FROM ccand c JOIN cjac j USING (id_a, id_b)
      WHERE j.jaccard >= 0.8
    ),
    cedges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM cpairs
      UNION SELECT id_b, id_a FROM cpairs
    ),
    creach(id, lab) AS (
      SELECT src, src FROM cedges
      UNION SELECT e.dst, r.lab FROM creach r JOIN cedges e ON e.src = r.id
    ),
    ccomp AS (SELECT id, min(lab) AS lab FROM creach GROUP BY id),
    csurv AS (
      SELECT c.id,
             row_number() OVER (PARTITION BY c.lab
                                ORDER BY length(trim(d.text)) DESC, c.id)
               AS rn
      FROM ccomp c JOIN crep d ON d.doc_id = c.id
    ),
    cflag AS (
      SELECT p.ek, p.qk, p.rk, (c.id IS NULL OR s.rn = 1) AS nk
      FROM crep p
      LEFT JOIN ccomp c ON c.id = p.doc_id
      LEFT JOIN csurv s ON s.id = p.doc_id
    )
    SELECT 'input_rows' AS k1, CAST(count(*) AS BIGINT) AS n FROM cflag
    UNION ALL SELECT 'exact_dups_dropped',
      CAST(coalesce(sum(CASE WHEN NOT ek THEN 1 END), 0) AS BIGINT)
    FROM cflag
    UNION ALL SELECT 'quality_dropped',
      CAST(coalesce(sum(CASE WHEN ek AND NOT qk THEN 1 END), 0) AS BIGINT)
    FROM cflag
    UNION ALL SELECT 'repetition_dropped',
      CAST(coalesce(sum(CASE WHEN ek AND qk AND NOT rk THEN 1 END), 0)
           AS BIGINT)
    FROM cflag
    UNION ALL SELECT 'neardup_dropped',
      CAST(coalesce(sum(CASE WHEN ek AND qk AND rk AND NOT nk THEN 1 END), 0)
           AS BIGINT)
    FROM cflag
    UNION ALL SELECT 'curated_rows',
      CAST(coalesce(sum(CASE WHEN ek AND qk AND rk AND nk THEN 1 END), 0)
           AS BIGINT)
    FROM cflag
    UNION ALL SELECT z.k1, CAST(0 AS BIGINT)
    FROM (VALUES {", ".join(f"('{z}')" for z in _CURATE_ZERO_STATS)}) z(k1)
"""


@register(
    "udtf_explode_tokens",
    f"""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
    q AS (SELECT doc_id AS query_id, ws[1:4] AS qws FROM toks WHERE doc_id < 3),
    qterms AS (SELECT DISTINCT query_id, unnest(list_distinct(qws)) AS term FROM q),
    stats AS (SELECT count(*) AS n_docs, avg(len(ws)) AS avgdl FROM toks),
    ctoks AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM toks),
    post AS (
      SELECT c.doc_id, c.term, count(*) AS tf, min(c.dl) AS dl
      FROM ctoks c WHERE c.term IN (SELECT term FROM qterms)
      GROUP BY c.doc_id, c.term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
    idf AS (
      SELECT term, ln(1 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf, s.avgdl
      FROM dfreq, stats s
    ),
    contrib AS (
      SELECT qt.query_id, p.doc_id,
             CAST(round(i.idf * (p.tf * 2.2)
                        / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / i.avgdl))
                        * 1e6) AS BIGINT) AS c_micro
      FROM post p JOIN idf i USING (term) JOIN qterms qt USING (term)
    ),
    scoredq AS (
      SELECT query_id, doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro
      FROM contrib GROUP BY 1, 2
    ),
    rankedq AS (
      SELECT query_id, doc_id, score_micro,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_micro DESC, doc_id) AS rnk
      FROM scoredq
    ),
    hcomp AS (
      SELECT vec_id, CAST(i AS INT) AS pos2,
             CAST(trunc(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1e12)
                  AS DECIMAL(19,0)) AS v
      FROM embeddings, range(1, 65) t(i)
    ),
    hnrm AS (
      SELECT vec_id, CAST(CAST(sum(v * v) AS VARCHAR) AS DOUBLE) AS norm_sq
      FROM hcomp GROUP BY vec_id
    ),
    hdots AS (
      SELECT qa.vec_id AS query_id, qb.vec_id AS doc_id,
             CAST(CAST(sum(qa.v * qb.v) AS VARCHAR) AS DOUBLE) AS dot
      FROM hcomp qa
      JOIN hcomp qb ON qa.pos2 = qb.pos2 AND qa.vec_id <> qb.vec_id
      WHERE qa.vec_id < 3
      GROUP BY 1, 2
    ),
    hden AS (
      SELECT query_id, doc_id, rnk FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dot / (sqrt(na.norm_sq) * sqrt(nb.norm_sq)) DESC,
                          doc_id) AS rnk
        FROM hdots
        JOIN hnrm na ON na.vec_id = query_id
        JOIN hnrm nb ON nb.vec_id = doc_id
      ) WHERE rnk <= 10
    ),
    hc AS (
      SELECT query_id, doc_id,
             CAST(round(1e9 / (60 + rnk)) AS BIGINT) AS c
      FROM hden
      UNION ALL
      SELECT query_id, doc_id,
             CAST(round(1e9 / (60 + rnk)) AS BIGINT) AS c
      FROM rankedq WHERE rnk <= 10
    ),
    hfused AS (
      SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS nano
      FROM hc GROUP BY 1, 2
    ),
    hrk AS (
      SELECT query_id, doc_id, nano,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY nano DESC, doc_id) AS INT) AS rnk
      FROM hfused
    ),
    hdcg AS (
      SELECT g.query_id,
             CAST(sum(CASE WHEN t.doc_id IS NOT NULL
               THEN round(1e6 / log2(g.rnk + 1.0)) ELSE 0 END) AS BIGINT)
               AS dcg
      FROM hrk g
      LEFT JOIN (SELECT query_id, doc_id FROM rankedq WHERE rnk <= 10) t
        ON t.query_id = g.query_id AND t.doc_id = g.doc_id
      WHERE g.rnk <= 10
      GROUP BY 1
    ),
    hidcg AS (
      SELECT query_id,
             CAST(sum(round(1e6 / log2(rnk + 1.0))) AS BIGINT) AS idcg
      FROM rankedq WHERE rnk <= 10 GROUP BY 1
    )
    SELECT 'tokens' AS part, doc_id,
           CAST(unnest(range(1, len(ws) + 1)) AS INT) AS pos, unnest(ws) AS token,
           CAST(NULL AS BIGINT) AS n
    FROM toks WHERE doc_id < 50
    UNION ALL
    SELECT 'vocab' AS part, CAST(NULL AS BIGINT) AS doc_id,
           CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS pos, token, n
    FROM (
      SELECT token, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(ws) AS token FROM toks)
      GROUP BY token ORDER BY n DESC, token LIMIT 100
    )
    UNION ALL
    SELECT 'bm25' AS part, doc_id, CAST(rnk AS INT) AS pos,
           'q' || CAST(query_id AS VARCHAR) AS token, score_micro AS n
    FROM rankedq WHERE rnk <= 10
    UNION ALL
    SELECT 'hybrid' AS part, doc_id, rnk AS pos,
           'q' || CAST(query_id AS VARCHAR) AS token, nano AS n
    FROM hrk
    UNION ALL
    SELECT 'ndcg' AS part, CAST(NULL AS BIGINT) AS doc_id,
           CAST(i.idcg AS INT) AS pos,
           'q' || CAST(i.query_id AS VARCHAR) AS token,
           coalesce(d.dcg, 0) AS n
    FROM hidcg i LEFT JOIN hdcg d ON d.query_id = i.query_id
    UNION ALL
    SELECT 'curate' AS part, CAST(0 AS BIGINT) AS doc_id,
           CAST(0 AS INT) AS pos, k1 AS token, n
    FROM ({_CURATE_SQL})
    """,
    doc="UD3 tagged union: 'tokens' = UDTF-shaped one-row → N-rows "
    "explode with ordinality (the RSS-feed → <item> rows expansion, "
    "producer_news.py:54-63) — posexplode over a generated array, no "
    "Python; 'vocab' = corpus vocabulary builder (top-100 tokens by "
    "document-collection frequency — the stop-list / BPE-prep / "
    "df-cap-tuning stat): token groupBy with map-side combine → "
    "distributed top-k (TakeOrderedAndProject), then ranks assigned on "
    "the k-bounded result only — never a global sort of the vocabulary; "
    "'bm25' (r5) = Okapi BM25 ranked retrieval (functions/text.py::"
    "bm25_topk) — query terms broadcast and semi-join the exploded "
    "corpus BEFORE aggregation (shuffles are O(query-term postings), "
    "never O(corpus tokens)), per-term contributions quantized to micro "
    "units and summed order-free, top-10 per query with deterministic "
    "tie-break; pos = rank, token = query tag, n = exact integer score; "
    "'hybrid' (r12) = the flagship HYBRID-SEARCH composition end to "
    "end (operators/fusion.py::rrf_fuse, Cormack 2009): the bm25 leg's "
    "lexical ranking fused with a dense exact-cosine top-10 over "
    "embeddings (vec i <-> doc i) for the same three queries — each "
    "tier's rank feeds a nano-quantized 1/(60+rank) integer "
    "contribution, summed order-free; pos = fused rank, n = the exact "
    "nano score; the oracle replays the dense tier in the similarity "
    "module's decimal CTEs and the fusion in integer arithmetic; "
    "'curate' (r14, homed on this slot — the registry's lightest — "
    "for gate headroom) = the curate_corpus COMPOSITION's per-stage "
    "accounting (curation.py, the product entry point, previously "
    "integration-pytest only): a deterministic planted corpus "
    "(doc_id%8 base + exact clones + near-dup partners + three "
    "single-gate junk docs — see the _CURATE_SQL comment) runs the "
    "default exact-dedup -> quality/repetition -> MinHash-neardup "
    "pipeline, and every returned stage counter (15 keys incl. the "
    "off stages' literal zeros) is value-checked against a full "
    "DuckDB re-derivation of the stage flags (the dedup_minhash_lsh "
    "oracle machinery re-scoped to gated survivors); stat names ride "
    "token, counts ride n",
    tags=("udtf", "explode", "text", "bm25", "hybrid", "curation"),
)
def udtf_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_pipeline_with_kafka_spark.functions.text import (
        bm25_topk,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("doc_id") < 50)
        .select("doc_id", F.posexplode(tokens("text")).alias("pos0", "token"))
        .select(
            F.lit("tokens").alias("part"),
            "doc_id",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            "token",
            F.lit(None).cast("long").alias("n"),
        )
    )
    top = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(100)
    )
    # rank over the k-bounded (≤100-row) relation only
    w = Window.orderBy(F.col("n").desc(), "token")
    vocab = top.select(
        F.lit("vocab").alias("part"),
        F.lit(None).cast("long").alias("doc_id"),
        F.row_number().over(w).cast("int").alias("pos"),
        "token",
        "n",
    )
    # 'bm25' leg: queries = the first 4 tokens of docs 0-2 (derived from
    # the corpus itself so the oracle can re-derive them)
    qsrc = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(tokens("text"), 1, 4)).alias("query_text"),
    )
    # the lexical ranking feeds its own leg AND the hybrid fusion —
    # persist the ~30-row relation so the whole BM25 pipeline runs
    # once per action, not once per consumer
    bm25_r = bm25_topk(docs, qsrc, k=10).persist()
    bm25 = bm25_r.select(
        F.lit("bm25").alias("part"),
        "doc_id",
        F.col("rank").alias("pos"),
        F.concat(F.lit("q"), F.col("query_id").cast("string")).alias("token"),
        F.col("score_micro").alias("n"),
    )
    # 'hybrid' leg (r12): BM25 ⊕ dense via RRF — the dense tier is the
    # exact-cosine top-10 over embeddings for the same query ids
    # (vec i ↔ doc i), fused on ranks alone (scale-free, no score
    # calibration), nano-integer contributions summed order-free
    emb = _t(spark, sf_dir, "embeddings")
    dense_r = brute_force_topk(emb, query_ids_max=3, k=10).select(
        F.col("id_a").alias("query_id"),
        F.col("id_b").alias("doc_id"),
        F.col("rnk").alias("rank"),
    )
    fused_r = rrf_fuse([("lex", bm25_r), ("dense", dense_r)]).persist()
    hybrid = fused_r.select(
        F.lit("hybrid").alias("part"),
        "doc_id",
        F.col("rank").alias("pos"),
        F.concat(F.lit("q"), F.col("query_id").cast("string")).alias("token"),
        F.col("rrf_nano").alias("n"),
    )
    # 'ndcg' leg (r12): order-sensitivity of the fusion, per query —
    # NDCG@10 of the fused ranking against the lexical truth; DCG and
    # IDCG ride the slot as exact micro integers (pos/n), so no
    # floating division reaches the checked surface
    nd = ndcg_at_k(
        fused_r, bm25_r.select("query_id", "doc_id"), k=10,
    ).select(
        F.lit("ndcg").alias("part"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("idcg_micro").cast("int").alias("pos"),
        F.concat(F.lit("q"), F.col("query_id").cast("string")).alias("token"),
        F.col("dcg_micro").alias("n"),
    )
    # 'curate' leg (r14): the curate_corpus COMPOSITION's per-stage
    # accounting, value-checked as data — the planted corpus (see the
    # _CURATE_SQL comment) runs through the DEFAULT pipeline and the
    # returned stats dict becomes one row per stage counter (names on
    # token, counts on n). The stats dict is a bounded driver-side
    # artifact by construction (ONE aggregation row — curation.py's
    # stats contract), so a local relation of it is the BPE-rules
    # pattern, not a collect smell.
    from crypto_data_pipeline_with_kafka_spark.curation import curate_corpus

    did = F.col("doc_id")
    planted_cur = (
        docs.filter((did % 8 == 0) & F.col("text").isNotNull())
        .select("doc_id", "text")
        .unionByName(
            docs.filter((did % 24 == 0) & F.col("text").isNotNull()).select(
                (-1 - did).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter((did % 40 == 0) & F.col("text").isNotNull()).select(
                (-1000000001 - did).alias("doc_id"),
                F.concat(F.lit("zzz "), F.col("text")).alias("text"),
            )
        )
        .unionByName(
            local_relation(
                spark,
                [
                    (-2000000001, _CURATE_JUNK_QUALITY),
                    (-2000000002, _CURATE_JUNK_RATIO),
                    (-2000000003, _CURATE_JUNK_REP),
                ],
                "doc_id long, text string",
            )
        )
    )
    # The planted corpus is fixture-scale BY CONSTRUCTION (an
    # attestation fixture, never a real corpus), but curate_corpus's
    # stage chain is deep — at the session default width every tiny
    # shuffle schedules a full task wave, and the composition pays
    # ~15 of them. Pin the width for the eager stats computation and
    # restore before the rest of this query's (lazy) legs plan.
    # CAVEAT: spark.conf is session-global state — safe here because
    # the driver executes registered queries sequentially and every
    # curate job completes inside the try block, but a harness that
    # ever plans OTHER work concurrently with this leg would see the
    # pinned width; isolate with spark.newSession() in that world.
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        _, cstats = curate_corpus(spark, planted_cur)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    curate = local_relation(
        spark,
        sorted((k, int(v)) for k, v in cstats.items()),
        "token string, n long",
    ).select(
        F.lit("curate").alias("part"),
        F.lit(0).cast("long").alias("doc_id"),
        F.lit(0).cast("int").alias("pos"),
        "token",
        "n",
    )
    return (
        toks.unionByName(vocab)
        .unionByName(bm25)
        .unionByName(hybrid)
        .unionByName(nd)
        .unionByName(curate)
    )


@register(
    "ingest_price_roundtrip",
    """
    SELECT event_id,
           'SYM' || CAST(user_id AS VARCHAR) AS symbol,
           CASE WHEN event_type = 'purchase' THEN '4h' ELSE '1h' END AS interval,
           CAST(CAST(CAST(value AS VARCHAR) AS DECIMAL(20,10)) AS VARCHAR) AS close_price,
           make_timestamp(epoch_ms(ts) * 1000) AS open_time
    FROM events
    """,
    doc="Entry-point-B message path, end to end IN the engine: typed rows "
    "→ JSON Kafka value (to_json, F1/S3) → from_json with the declared "
    "PRICE_SCHEMA (F2/S4) → explicit decimal casts + epoch-ms timestamps "
    "+ interval default (F12/F3/F11). The oracle states the expected "
    "OUTPUT directly, so the whole encode/decode pipeline is what's "
    "being checked",
    tags=("ingest", "json"),
)
def ingest_price_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    msgs = events.select(
        "event_id",
        F.to_json(
            F.struct(
                F.concat(F.lit("SYM"), F.col("user_id").cast("string")).alias("symbol"),
                F.when(F.col("event_type") == "purchase", F.lit("4h")).alias("interval"),
                F.unix_millis("ts").alias("open_time"),
                F.col("value").cast("string").alias("close"),
            )
        ).alias("value"),
    )
    typed_with_id = msgs.select(
        "event_id", F.col("value").alias("v")
    ).select(
        "event_id",
        F.from_json(
            "v",
            "symbol string, interval string, open_time long, close string",
        ).alias("m"),
    )
    return typed_with_id.select(
        "event_id",
        F.col("m.symbol").alias("symbol"),
        F.coalesce(F.col("m.interval"), F.lit("1h")).alias("interval"),
        F.col("m.close").cast("decimal(20,10)").cast("string").alias("close_price"),
        F.timestamp_millis(F.col("m.open_time")).alias("open_time"),
    )


@register(
    "agg_median_manual",
    """
    WITH ranked AS (
      SELECT user_id, value, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT user_id, CAST(n AS BIGINT) AS n,
           CAST(sum(CAST(CASE WHEN rn = (n + 1) // 2 OR rn = (n + 2) // 2
                              THEN value END AS DECIMAL(18,6))) AS DOUBLE)
             / count(CASE WHEN rn = (n + 1) // 2 OR rn = (n + 2) // 2 THEN 1 END)
             AS median_value
    FROM ranked GROUP BY user_id, n
    """,
    doc="Exact median per key via row_number selection (deterministic "
    "tie-break) — the exact twin of percentile_approx (see "
    "agg_approx_sketches); avg of the one or two middle elements from "
    "exact decimal sums",
    tags=("agg", "percentile"),
)
def agg_median_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    wn = Window.partitionBy("user_id")
    ranked = _t(spark, sf_dir, "events").select(
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    lo = F.floor((F.col("n") + 1) / 2)
    hi = F.floor((F.col("n") + 2) / 2)
    mid = (F.col("rn") == lo) | (F.col("rn") == hi)
    picked = F.when(mid, F.col("value"))
    return ranked.groupBy("user_id", "n").agg(
        (
            F.sum(picked.cast("decimal(18,6)")).cast("double")
            / F.count(F.when(mid, F.lit(1)))
        ).alias("median_value")
    )
