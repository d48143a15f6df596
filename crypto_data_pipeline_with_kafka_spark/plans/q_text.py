"""Text-analysis queries (LLM-pipeline operators over ``documents``):
language-ID scoring, quality metrics, token counting, fingerprinting,
sentiment (built-in composition AND the Arrow Pandas-UDF twin — UD1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_data_pipeline_with_kafka_spark.catalog import load_table, local_relation
from crypto_data_pipeline_with_kafka_spark.functions.text import (
    STOPWORDS,
    BPE_TOKEN_PATTERN,
    kgrams_from_tokens,
    lang_scores,
    SENTIMENT_LEXICON,
    sentiment_builtin,
    sentiment_pandas_udf,
    tokens,
)
from crypto_data_pipeline_with_kafka_spark.operators.dedup import shingle_rows
from crypto_data_pipeline_with_kafka_spark.operators.sampling import (
    _FRAC_DENOM,
    _FRAC_HEX_DIGITS,
    hash_sample_flag,
    hash_split,
    pack_sequences,
)
from crypto_data_pipeline_with_kafka_spark.plans.registry import register

# Split weights for text_profile's sampling leg. The cumulative cuts are
# accumulated in Python EXACTLY as hash_split accumulates them, then
# embedded as repr() literals in the DuckDB SQL — so even a fraction
# landing on the float boundary (0.9 + 0.05 != 0.95 in IEEE) assigns
# identically on both engines.
_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
_CUT_TRAIN = 0.9 / 1.0
_CUT_VAL = _CUT_TRAIN + 0.05 / 1.0
_SAMPLE_FRACTION = 0.1
_PACK_BUDGET = 2048
_PACK_SHARDS = 8

# DuckDB twin of operators.sampling._hash_fraction: 13-hex-digit md5
# prefix as a 52-bit integer over 16^13 (exact in a double)
_FRAC_SQL = (
    "CAST(('0x' || substr(md5('{salt}|' || CAST(q.doc_id AS VARCHAR)), 1, "
    f"{_FRAC_HEX_DIGITS})) AS UBIGINT) / {_FRAC_DENOM!r}"
)

_TOKS = "toks AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS ws FROM documents)"

_SENT_CASE = (
    "CASE w WHEN 'fast' THEN 2.0 WHEN 'slow' THEN -2.0 WHEN 'big' THEN 1.0 "
    "WHEN 'small' THEN -1.0 WHEN 'value' THEN 1.5 WHEN 'merge' THEN 0.5 "
    "WHEN 'filter' THEN -0.5 WHEN 'error' THEN -3.0 ELSE 0.0 END"
)

_SENT_SQL = f"""
WITH {_TOKS},
sc AS (
  SELECT doc_id, len(ws) AS n,
         list_sum(list_transform(ws, w -> {_SENT_CASE})) AS s
  FROM toks
)
SELECT doc_id, s / n AS sentiment, s / n AS sentiment_join FROM sc
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@register(
    "text_profile",
    rf"""
    WITH toks AS (SELECT doc_id, lang, text, string_split(trim(text), ' ') AS ws FROM documents),
    q AS (
      SELECT doc_id, lang, text,
        CAST(len(ws) AS BIGINT) AS n_words,
        CAST(len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
        CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
        CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS distinct_ratio,
        CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) AS avg_word_len,
        CAST(len(list_filter(ws, w -> w IN {STOPWORDS!r})) AS DOUBLE) / len(ws) AS stopword_ratio,
        (len(ws) >= 20 AND CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) >= 0.2) AS quality_ok,
        CAST(len(list_filter(ws, w -> w IN ('the', 'a'))) AS DOUBLE) / len(ws) AS score_en,
        CAST(len(list_filter(ws, w -> w IN ('query', 'table', 'row'))) AS DOUBLE) / len(ws) AS score_query,
        CAST(len(list_filter(ws, w -> w IN ('scan', 'join', 'hash', 'sort'))) AS DOUBLE) / len(ws) AS score_exec
      FROM toks
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                   for i in range(1, len(ws) - 1)])) AS shingle
      FROM toks WHERE len(ws) >= 3
    ),
    fp AS (
      SELECT doc_id, min(md5(shingle)) AS fp_min, max(md5(shingle)) AS fp_max
      FROM sh GROUP BY doc_id
    ),
    grams AS (
      SELECT doc_id, 2 AS glen,
             unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS gram
      FROM toks WHERE len(ws) >= 2
      UNION ALL
      SELECT doc_id, 3,
             unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                     for i in range(1, len(ws) - 1)])
      FROM toks WHERE len(ws) >= 3
    ),
    gc AS (SELECT doc_id, glen, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3),
    rep AS (
      SELECT doc_id,
             CAST(max(CASE WHEN glen = 2 THEN c END) AS DOUBLE)
               / CAST(sum(CASE WHEN glen = 2 THEN c END) AS DOUBLE) AS top_bigram_frac,
             CAST(coalesce(sum(CASE WHEN glen = 3 AND c >= 2 THEN c END), 0) AS DOUBLE)
               / CAST(sum(CASE WHEN glen = 3 THEN c END) AS DOUBLE) AS dup_trigram_frac
      FROM gc GROUP BY doc_id
    )
    SELECT q.doc_id, q.lang, q.n_words, q.n_bpe_tokens, q.n_distinct,
           q.distinct_ratio, q.avg_word_len, q.stopword_ratio, q.quality_ok,
           q.score_en, q.score_query, q.score_exec,
           CASE WHEN score_en >= score_query AND score_en >= score_exec THEN 'en'
                WHEN score_query >= score_exec THEN 'query'
                ELSE 'exec' END AS predicted,
           md5(q.text) AS content_hash,
           fp.fp_min, fp.fp_max, substr(fp.fp_min, 1, 8) AS short_fp,
           rep.top_bigram_frac, rep.dup_trigram_frac,
           (rep.top_bigram_frac <= 0.2 AND rep.dup_trigram_frac <= 0.3) AS rep_ok,
           CASE WHEN {{split_frac}} < {_CUT_TRAIN!r} THEN 'train'
                WHEN {{split_frac}} < {_CUT_VAL!r} THEN 'val'
                ELSE 'test' END AS split,
           {{sample_frac}} < {_SAMPLE_FRACTION!r} AS sample_10pct,
           pk.pack_shard, pk.pack_seq, pk.pack_offset
    FROM q LEFT JOIN fp ON fp.doc_id = q.doc_id
    LEFT JOIN rep ON rep.doc_id = q.doc_id
    JOIN (
      SELECT doc_id, pack_shard,
             CAST(cum_prev // {_PACK_BUDGET} AS BIGINT) AS pack_seq,
             CAST(cum_prev % {_PACK_BUDGET} AS BIGINT) AS pack_offset
      FROM (
        SELECT doc_id, pack_shard,
               coalesce(sum(n_bpe_tokens) OVER (
                 PARTITION BY pack_shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
        FROM (
          SELECT doc_id, n_bpe_tokens,
                 CAST(CAST(('0x' || substr(md5('pack-v1|' || CAST(doc_id AS VARCHAR)), 1, 4))
                      AS UBIGINT) % {_PACK_SHARDS} AS BIGINT) AS pack_shard
          FROM q
        )
      )
    ) pk ON pk.doc_id = q.doc_id
    """.format(
        split_frac=_FRAC_SQL.format(salt="split-v1"),
        sample_frac=_FRAC_SQL.format(salt="sample-v1"),
    ),
    doc="Text-analysis profile — quality scoring, language-ID and "
    "fingerprinting over `documents` in ONE checked plan (merged from "
    "the round-2 text_quality_score / text_lang_id / text_fingerprint "
    "rows; every column of all three survives). Per-row leg: "
    "whitespace-token count, BPE-ish regex token count, distinct-token "
    "ratio, avg word length, stopword ratio, quality flag (LLM-data "
    "quality gates), marker-token LID scores + argmax with deterministic "
    "tie-break, md5 content hash. Aggregate leg: min/max shingle hash "
    "(rolling-hash family; the min doubles as a 1-permutation MinHash), "
    "left-joined so <3-token docs keep NULL fingerprints. Repetition "
    "leg (Gopher-style repetition gates, token-count variant): "
    "top-bigram fraction + duplicated-trigram instance fraction + the "
    "rep_ok gate, computed at the scalable explode→(doc,glen,gram) "
    "groupBy shape (map-side combine; per-row HOF counting would be "
    "O(distinct×n) per document). All JVM built-ins — no Python in the "
    "hot path",
    tags=("text", "dedup"),
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    ws = tokens("text")
    n = F.size(ws)
    n_dis = F.size(F.array_distinct(ws))
    sum_len = F.aggregate(
        F.transform(ws, lambda w: F.length(w)), F.lit(0), lambda acc, x: acc + x
    )
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    distinct_ratio = n_dis.cast("double") / n
    scores = lang_scores("text")
    per_row = docs.select(
        "doc_id",
        "lang",
        n.cast("long").alias("n_words"),
        F.regexp_count("text", F.lit(BPE_TOKEN_PATTERN)).cast("long").alias(
            "n_bpe_tokens"
        ),
        n_dis.cast("long").alias("n_distinct"),
        distinct_ratio.alias("distinct_ratio"),
        (sum_len.cast("double") / n).alias("avg_word_len"),
        (n_stop.cast("double") / n).alias("stopword_ratio"),
        ((n >= 20) & (distinct_ratio >= 0.2)).alias("quality_ok"),
        scores["en"].alias("score_en"),
        scores["query"].alias("score_query"),
        scores["exec"].alias("score_exec"),
        F.md5("text").alias("content_hash"),
    ).withColumn(
        "predicted",
        F.when(
            (F.col("score_en") >= F.col("score_query"))
            & (F.col("score_en") >= F.col("score_exec")),
            F.lit("en"),
        )
        .when(F.col("score_query") >= F.col("score_exec"), F.lit("query"))
        .otherwise(F.lit("exec")),
    )
    fp = shingle_rows(docs).groupBy("doc_id").agg(
        F.min(F.md5("shingle")).alias("fp_min"),
        F.max(F.md5("shingle")).alias("fp_max"),
    )
    # repetition leg: every 2-/3-gram INSTANCE (duplicates kept), tagged
    # with its length, one explode → one (doc, glen, gram) count — the
    # shape that survives 100 TB (map-side combine; counting inside each
    # row with HOFs would be O(distinct × n) per document)
    tagged = F.concat(
        F.transform(
            kgrams_from_tokens(ws, 2),
            lambda g: F.struct(F.lit(2).alias("glen"), g.alias("gram")),
        ),
        F.transform(
            kgrams_from_tokens(ws, 3),
            lambda g: F.struct(F.lit(3).alias("glen"), g.alias("gram")),
        ),
    )
    gc = (
        docs.select("doc_id", F.explode(tagged).alias("g"))
        .select("doc_id", "g.glen", "g.gram")
        .groupBy("doc_id", "glen", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c2 = F.when(F.col("glen") == 2, F.col("c"))
    c3 = F.when(F.col("glen") == 3, F.col("c"))
    rep = gc.groupBy("doc_id").agg(
        (F.max(c2).cast("double") / F.sum(c2).cast("double")).alias(
            "top_bigram_frac"
        ),
        (
            F.coalesce(
                F.sum(F.when((F.col("glen") == 3) & (F.col("c") >= 2), F.col("c"))),
                F.lit(0),
            ).cast("double")
            / F.sum(c3).cast("double")
        ).alias("dup_trigram_frac"),
    )
    profiled = (
        per_row.join(fp, "doc_id", "left")
        .withColumn("short_fp", F.substring("fp_min", 1, 8))
        .join(rep, "doc_id", "left")
        .withColumn(
            "rep_ok",
            (F.col("top_bigram_frac") <= 0.2) & (F.col("dup_trigram_frac") <= 0.3),
        )
    )
    # sampling leg: deterministic md5-keyed split + repeatable sample
    # flag as per-doc curation metadata — pure column maps, zero shuffle
    assembled = hash_split(profiled, _SPLIT_WEIGHTS).withColumn(
        "sample_10pct", hash_sample_flag(_SAMPLE_FRACTION)
    )
    # packing leg: (shard, seq, offset) under a fixed token budget —
    # one window shuffle partitioned on the md5 shard
    return pack_sequences(
        assembled, _PACK_BUDGET, "n_bpe_tokens", n_shards=_PACK_SHARDS
    )


# (text_sentiment — the built-in JVM composition — was folded out of the
# registry: news_pipeline's oracle-checked sentiment column runs
# sentiment_builtin end to end, and tests/test_properties.py asserts the
# UDF and built-in paths bitwise-equal. The UDF variant keeps its own
# row because UD1 — the Arrow Pandas-UDF surface — is what it attests.)


@register(
    "text_sentiment_udf",
    _SENT_SQL,
    doc="UD1: lexicon sentiment via an Arrow-batched scalar Pandas UDF "
    "(the reference's only true UDF shape, producer_news.py:16-17) — "
    "value-identical to the built-in composition (the JVM hot path, "
    "exercised by news_pipeline), so even the UDF is oracle-checked. "
    "The sentiment_join column scores the SAME docs through the "
    "large-lexicon scale path (explode → broadcast-join the (token, "
    "score) relation → per-doc decimal mean, r5): no create_map "
    "literal in the plan, so a full-size VADER lexicon cannot blow up "
    "planning; bitwise-equal to the fold on the binary-exact stand-in "
    "lexicon, hence one shared oracle expression. NOTE: the lexicon is "
    "the engine's deterministic stand-in, NOT the VADER lexicon (NLTK "
    "data is not in this container)",
    tags=("text", "sentiment", "udf"),
)
def text_sentiment_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_pipeline_with_kafka_spark.functions.text import (
        sentiment_lexicon_df,
        sentiment_scores_join,
    )

    # lexicon pinned explicitly: the oracle embeds these scores as SQL
    # constants, so the env-swapped deployment lexicon must not leak in
    docs = _docs(spark, sf_dir)
    udf = sentiment_pandas_udf(lexicon=SENTIMENT_LEXICON)
    scored = docs.select("doc_id", udf("text").alias("sentiment"))
    via_join = sentiment_scores_join(
        docs,
        sentiment_lexicon_df(spark, SENTIMENT_LEXICON),
        out_col="sentiment_join",
    )
    return scored.join(via_join, "doc_id")


# little-endian hex renderers for the 'ameta' oracle (DuckDB to_hex is
# lowercase and unpadded; Spark F.hex is uppercase — upper() + lpad
# align them)
def _u16sql(e: str) -> str:
    return (
        f"upper(lpad(to_hex(({e}) % 256), 2, '0') || "
        f"lpad(to_hex((({e}) // 256) % 256), 2, '0'))"
    )


def _u32sql(e: str) -> str:
    return (
        "upper("
        + " || ".join(
            f"lpad(to_hex((({e}) // {1 << (8 * i)}) % 256), 2, '0')"
            for i in range(4)
        )
        + ")"
    )


# decode_audio oracle: independently assemble the SAME RIFF/WAVE hex
# the engine unhexes — tag/channels/rate/bits/sample-count all
# doc-dependent — and state the decoded metadata arithmetically. The
# engine's content_hash = hex(payload) must equal this hx string
# byte-for-byte, so a single wrong header byte breaks the leg.
_AMETA_SQL = f"""
    SELECT 'ameta' AS method, doc_id, CAST(44 + dlen AS BIGINT) AS n_bytes,
           hx AS content_hash,
           (CASE WHEN tag = 3 THEN 'wav_float@32'
                 ELSE 'wav_pcm@16' END) AS format,
           CAST(rate AS INTEGER) AS width, CAST(nsamp AS INTEGER) AS height,
           CAST(ch AS INTEGER) AS channels
    FROM (
      SELECT doc_id, tag, ch, rate, nsamp, dlen,
             '52494646' || {_u32sql('36 + dlen')}
             || '57415645666D742010000000'
             || {_u16sql('tag')} || {_u16sql('ch')} || {_u32sql('rate')}
             || {_u32sql('rate * frame')} || {_u16sql('frame')}
             || {_u16sql('bits')} || '64617461' || {_u32sql('dlen')}
             || repeat('00', CAST(dlen AS INT)) AS hx
      FROM (
        SELECT *, nsamp * frame AS dlen FROM (
          SELECT *, ch * (bits // 8) AS frame FROM (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 1 END AS tag,
                   CASE WHEN doc_id % 3 = 0 THEN 32 ELSE 16 END AS bits,
                   1 + doc_id % 2 AS ch,
                   8000 + (doc_id % 5) * 2000 AS rate,
                   16 + doc_id % 17 AS nsamp
            FROM documents
          )
        )
      )
    )
"""


@register(
    "mm_decode_stub",
    f"""
    WITH b AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_hash
      FROM documents
    ),
    pay AS (
      SELECT doc_id,
             CAST(doc_id % 8 + 4 AS INTEGER) AS width,
             CAST(doc_id % 5 + 3 AS INTEGER) AS height,
             'P5 ' || (doc_id % 8 + 4) || ' ' || (doc_id % 5 + 3) || ' 255'
               || chr(10)
               || rpad(text, CAST((doc_id % 8 + 4) * (doc_id % 5 + 3) AS INTEGER),
                       'x') AS s
      FROM documents WHERE text IS NOT NULL
    )
    SELECT 'stub' AS method, doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
           content_hash,
           CASE WHEN n_bytes % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
           CAST(16 + (n_bytes % 64) AS INTEGER) AS width,
           CAST(16 + ((n_bytes // 64) % 64) AS INTEGER) AS height,
           CAST(CASE WHEN n_bytes % 3 <> 0 THEN 3 ELSE 4 END AS INTEGER) AS channels
    FROM b
    UNION ALL
    SELECT 'real' AS method, doc_id,
           CAST(octet_length(encode(s)) AS BIGINT) AS n_bytes,
           md5(s) AS content_hash,
           'pgm' AS format, width, height,
           CAST(1 AS INTEGER) AS channels
    FROM pay
    UNION ALL
    SELECT 'ahash' AS method, doc_id, CAST(75 AS BIGINT) AS n_bytes,
           string_agg(CASE WHEN 64 * px > s THEN '1' ELSE '0' END,
                      '' ORDER BY k) AS content_hash,
           'pgm_fp' AS format, CAST(8 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height, CAST(1 AS INTEGER) AS channels
    FROM (
      SELECT d.doc_id, CAST(t.k AS INT) AS k,
             (d.doc_id * 11 + CAST(t.k AS INT) * 7) % 128 AS px,
             sum((d.doc_id * 11 + CAST(t.k AS INT) * 7) % 128)
               OVER (PARTITION BY d.doc_id) AS s
      FROM documents d, range(0, 64) t(k)
    )
    GROUP BY doc_id
    UNION ALL
{_AMETA_SQL}
    UNION ALL
    SELECT method, doc_id, n_bytes, content_hash, format, width, height,
           channels
    FROM (
      WITH vpx AS (
        SELECT d.doc_id, CAST(t.f AS INT) AS f, CAST(u.k AS INT) AS k,
               (d.doc_id * 13 + CAST(t.f AS INT) * 31
                + CAST(u.k AS INT) * 7) % 128 AS px
        FROM documents d, range(0, 8) t(f), range(0, 64) u(k)
      ),
      vbits AS (
        SELECT doc_id, f,
               string_agg(CASE WHEN 64 * px > s THEN '1' ELSE '0' END,
                          '' ORDER BY k) AS bits
        FROM (SELECT doc_id, f, k, px,
                     sum(px) OVER (PARTITION BY doc_id, f) AS s FROM vpx)
        GROUP BY doc_id, f
      ),
      vkey AS (
        SELECT doc_id, bits,
               CAST(('0x' || substr(md5(bits), 1, 13)) AS BIGINT) AS key
        FROM vbits
      ),
      vrank AS (
        SELECT doc_id, bits,
               count(*) OVER (PARTITION BY doc_id) AS n_all,
               sum(CASE WHEN key % 2 = 0 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id) AS g,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY CASE WHEN key % 2 = 0 THEN 0 ELSE 1 END,
                          key, bits) AS rn
        FROM vkey
      ),
      voters AS (
        SELECT doc_id, bits FROM vrank
        WHERE rn <= greatest(g, least(n_all,
                greatest(5, CAST(ceil(n_all / 2.0) AS BIGINT))))
      ),
      vsum AS (
        SELECT doc_id, CAST(t.j AS INT) AS j,
               sum(CAST(substr(bits, CAST(t.j AS INT), 1) AS INT)) AS s,
               count(*) AS n
        FROM voters, range(1, 65) t(j)
        GROUP BY 1, 2
      ),
      vfr AS (
        SELECT doc_id, f,
               string_agg(chr(CAST(px AS INT)), '' ORDER BY k) AS fr
        FROM vpx GROUP BY doc_id, f
      ),
      vpay AS (
        SELECT doc_id,
               'YUV4MPEG2 W8 H8 F25:1 Cmono' || chr(10) ||
               string_agg('FRAME' || chr(10) || fr, '' ORDER BY f) AS pay
        FROM vfr GROUP BY doc_id
      ),
      vgate AS (
        SELECT doc_id, f, fr,
               CASE WHEN CAST(('0x' || substr(md5(fr), 1, 13)) AS BIGINT)
                         % 3 = 0
                    THEN 1 ELSE 0 END AS g
        FROM vfr
      ),
      vsel AS (
        SELECT doc_id, f, fr FROM (
          SELECT doc_id, f, fr, g,
                 sum(g) OVER (PARTITION BY doc_id) AS gd
          FROM vgate
        ) WHERE g = 1 OR gd = 0
      )
      SELECT 'vfp' AS method, doc_id, CAST(588 AS BIGINT) AS n_bytes,
             string_agg(CASE WHEN 2 * s > n THEN '1' ELSE '0' END,
                        '' ORDER BY j) AS content_hash,
             'y4m_fp' AS format, CAST(any_value(n) AS INTEGER) AS width,
             CAST(8 AS INTEGER) AS height, CAST(1 AS INTEGER) AS channels
      FROM vsum GROUP BY doc_id
      UNION ALL
      SELECT 'vmeta' AS method, doc_id, CAST(588 AS BIGINT) AS n_bytes,
             md5(pay) AS content_hash, 'y4m@25.0' AS format,
             CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
             CAST(8 AS INTEGER) AS channels
      FROM vpay
      UNION ALL
      SELECT 'vframes' AS method, doc_id, CAST(75 AS BIGINT) AS n_bytes,
             md5('P5 8 8 255' || chr(10) || fr) AS content_hash,
             'pgm' AS format, CAST(8 AS INTEGER) AS width,
             CAST(8 AS INTEGER) AS height, CAST(f AS INTEGER) AS channels
      FROM vsel
    )
    UNION ALL
    SELECT 'afp' AS method, doc_id, CAST(556 AS BIGINT) AS n_bytes,
           string_agg(CASE WHEN votes >= 3 THEN '1' ELSE '0' END,
                      '' ORDER BY k) AS content_hash,
           'wav_fp' AS format, CAST(8000 AS INTEGER) AS width,
           CAST(512 AS INTEGER) AS height, CAST(1 AS INTEGER) AS channels
    FROM (
      SELECT doc_id, s // 4 AS k, sum(bit) AS votes
      FROM (
        SELECT doc_id, s,
               CASE WHEN 256 * w * sabs
                         > sum(w * sabs) OVER (PARTITION BY doc_id)
                    THEN 1 ELSE 0 END AS bit
        FROM (
          SELECT d.doc_id, CAST(t.s AS INT) AS s,
                 24 // (least(512, 2*CAST(t.s AS INT) + 8)
                        - 2*CAST(t.s AS INT)) AS w,
                 sum(128 - ((d.doc_id*7
                             + (2*CAST(t.s AS INT) + CAST(u.j AS INT))*13)
                            % 128)) AS sabs
          FROM documents d, range(0, 256) t(s), range(0, 8) u(j)
          WHERE 2*CAST(t.s AS INT) + CAST(u.j AS INT)
                < least(512, 2*CAST(t.s AS INT) + 8)
          GROUP BY 1, 2
        ) g
      ) b
      GROUP BY 1, 2
    ) f
    GROUP BY doc_id
    """,
    doc="Multimodal decode, tagged union of the decoder paths through "
    "the SAME Arrow mapInPandas stage: 'stub' = opaque binary payload "
    "(utf-8 bytes standing in for compressed blobs) through the "
    "documented deterministic stub decoder — byte length + content hash "
    "survive the binary hop identically in both engines; 'real' (r5) = "
    "each document's text packed into a GENUINE binary PGM payload (P5 "
    "header with per-row planted dimensions, text bytes as the raster — "
    "all-ASCII fixture, so chars = bytes) and decode_images("
    "decoder='real') — the pure-Python Netpbm parser — decodes it back; "
    "'afp' (r7, v3 rule since r9) = per-doc GENUINE RIFF/WAVE payloads "
    "(8-bit PCM mono, 512 samples derived arithmetically from doc_id; "
    "every byte < 128 so the UTF-8 hop is byte-exact) fingerprinted by "
    "multimodal.perceptual_hash_audio — 256 overlapped frames on the "
    "2-sample hop grid (tail frames clamp to lengths 6/4/2), "
    "global-mean threshold, strict-majority 4:1 fold to 64 bits. "
    "Scaling each frame by w = 24/len makes the threshold comparison "
    "the exact INTEGER rule 256·w_s·S_s > Σ w_t·S_t the oracle "
    "replays; float-vs-integer agreement and tie absence were swept "
    "across all 128 doc_id residue classes (the fixture's full "
    "period). content_hash carries the 64-bit fingerprint, "
    "width/height the parsed rate/sample count. The "
    "oracle derives all legs' columns purely arithmetically, so a "
    "header-parse, raster-validation, or WAV chunk-walk bug breaks "
    "the hash match; 'ahash' (r13) = IMAGE perceptual hashing "
    "(multimodal.perceptual_hash_images) over genuine 8x8 P5 PGM "
    "payloads (pixel k = (doc_id*11 + k*7) % 128, all bytes < 128 so "
    "the UTF-8 hop is exact) — at exactly 8x8 each aHash grid cell is "
    "one pixel, so the bit rule collapses to the exact integer "
    "comparison 64*px > sum(px) the oracle replays arithmetically "
    "(cell means and the global mean are exact in IEEE: integers and "
    "one power-of-two division); content_hash carries the 64-bit "
    "string, so a header-parse, offset, stride, or grid-walk bug "
    "breaks the match; 'vfp' (r13) = VIDEO fingerprinting "
    "(multimodal.perceptual_hash_video, v2-pgate) over genuine "
    "YUV4MPEG2 payloads (8 FRAME sections of 8x8 mono luma, "
    "arithmetically planted) at every_nth=2 — the y4m stream walk, "
    "per-frame PGM repack + aHash, the aHash-md5-keyed vote gate "
    "with quota top-up, and the strict-majority fold are ALL "
    "replayed arithmetically by the oracle; width carries the voter "
    "count so the vote-set size is checked alongside the 64 majority "
    "bits; 'vmeta' (r13) = decode_video metadata over the same "
    "payloads (fps rational parse in format as 'y4m@<fps>', frame "
    "count in channels, md5 of the raw payload bytes in content_hash "
    "— the oracle rebuilds the byte-identical payload with chr() and "
    "md5s it); 'vframes' (r13) = content-anchored frame sampling "
    "(sample_video_frames anchor='content', every_nth=3 — the CDC "
    "discipline on the time axis, with the all-frames fallback) — "
    "the oracle replays the luma-md5 gate and hashes each sampled "
    "frame's PGM repack, so the sampled set, the frame indices, and "
    "the repacked bytes are all value-checked; 'ameta' (r13) = "
    "decode_audio over planted RIFF/WAVE headers with DOC-DEPENDENT "
    "geometry (PCM/IEEE-float tags, mono/stereo, 16/32-bit, varying "
    "rates and sample counts — the paths the 8-bit afp fixture "
    "cannot reach), built via unhex so multi-byte fields are "
    "unconstrained; content_hash = hex(payload) pinned against the "
    "oracle's independently assembled little-endian hex, and "
    "rate/samples/channels/bit-depth stated arithmetically. Every "
    "decode path in multimodal.py is now oracle-attested through its "
    "real parser",
    tags=("multimodal", "udf", "audio"),
)
def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_pipeline_with_kafka_spark.multimodal import (
        attach_binary_payload,
        decode_audio,
        decode_images,
        decode_video,
        perceptual_hash_audio,
        perceptual_hash_images,
        perceptual_hash_video,
        sample_video_frames,
    )

    docs = _docs(spark, sf_dir)
    stub = decode_images(attach_binary_payload(docs)).select(
        F.lit("stub").alias("method"), "*"
    )
    w = (F.col("doc_id") % 8 + 4).cast("int")
    h = (F.col("doc_id") % 5 + 3).cast("int")
    s = F.concat(
        F.lit("P5 "),
        w.cast("string"),
        F.lit(" "),
        h.cast("string"),
        F.lit(" 255\n"),
        F.expr("rpad(text, CAST((doc_id % 8 + 4) * (doc_id % 5 + 3) AS INT), 'x')"),
    )
    planted = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.encode(s, "UTF-8").alias("payload"),
        F.length(F.encode(s, "UTF-8")).cast("long").alias("n_bytes"),
        F.md5(s).alias("content_hash"),
    )
    real = decode_images(planted, decoder="real").select(
        F.lit("real").alias("method"), "*"
    )
    # 'afp' leg: genuine WAV bytes built in-plan (constant 44-byte
    # header — 8-bit PCM mono @8000, 512-sample data chunk — plus
    # doc_id-derived samples, all bytes < 128 so encode() is exact),
    # fingerprinted through the REAL audio path
    import struct as _struct

    _hdr = (
        b"RIFF" + _struct.pack("<I", 4 + 24 + 8 + 512) + b"WAVE"
        + b"fmt " + _struct.pack("<I", 16)
        + _struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        + b"data" + _struct.pack("<I", 512)
    ).decode("ascii")
    wav_samples = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(511)),
            lambda i: F.char((F.col("doc_id") * 7 + i * 13) % 128),
        ),
        "",
    )
    wav_payload = F.encode(F.concat(F.lit(_hdr), wav_samples), "UTF-8")
    planted_aud = docs.select(
        "doc_id",
        wav_payload.alias("payload"),
        F.length(wav_payload).cast("long").alias("n_bytes"),
    )
    # 'ahash' leg (r13): genuine 8x8 P5 PGM payloads (pixel k =
    # (doc_id*11 + k*7) % 128 — every byte < 128 so encode() is exact)
    # through perceptual_hash_images, the REAL shared raster parser +
    # aHash path. At exactly 8x8 each aHash grid cell is ONE pixel, so
    # the bit rule collapses to the exact integer comparison
    # 64*px_k > sum(px) (the float mean S/64.0 is an exact power-of-two
    # division of an integer <= 64*127, and each cell mean is an exact
    # small integer — no rounding anywhere), which the oracle replays
    # arithmetically; a header-parse, offset, stride, or grid-walk bug
    # breaks the 64-bit string match
    ahash_payload = F.encode(
        F.concat(
            F.lit("P5 8 8 255\n"),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda k: F.char((F.col("doc_id") * 11 + k * 7) % 128),
                ),
                "",
            ),
        ),
        "UTF-8",
    )
    planted_img = docs.select(
        "doc_id",
        ahash_payload.alias("payload"),
        F.length(ahash_payload).cast("long").alias("n_bytes"),
    )
    ih = (
        perceptual_hash_images(planted_img.select("doc_id", "payload"))
        .join(planted_img.select("doc_id", "n_bytes"), "doc_id")
        .select(
            F.lit("ahash").alias("method"),
            "doc_id",
            "n_bytes",
            F.col("simhash").alias("content_hash"),
            F.lit("pgm_fp").alias("format"),
            F.col("width").cast("int").alias("width"),
            F.col("height").cast("int").alias("height"),
            F.lit(1).cast("int").alias("channels"),
        )
    )
    # 'vfp' leg (r13): genuine YUV4MPEG2 payloads — stream header
    # "YUV4MPEG2 W8 H8 F25:1 Cmono\n" + 8 FRAME sections of 8x8 mono
    # luma (pixel = (doc_id*13 + f*31 + k*7) % 128, all bytes < 128 so
    # the UTF-8 hop is exact) — through the FULL v2-pgate video
    # fingerprint at every_nth=2: y4m parse + frame walk, per-frame
    # PGM repack + aHash (each an exact 64*px > sum(px) integer rule
    # at 8x8), the aHash-md5-keyed vote gate with the
    # quota top-up (min(n, max(5, ceil(n/2)))), and the
    # strict-majority bit fold. The oracle replays every stage
    # arithmetically (bits -> md5 key -> gate/rank/quota -> majority),
    # so a frame-offset, vote-selection, or majority-fold bug breaks
    # the 64-bit match; width carries the voter count so the vote-set
    # SIZE is value-checked too.
    _y4m_hdr = "YUV4MPEG2 W8 H8 F25:1 Cmono\n"

    def _vframe(f: int):
        # single-arg lambda on purpose: F.transform treats a 2-arg
        # lambda as the (element, index) variant, silently rebinding a
        # default-arg frame capture to the array index
        return F.concat(
            F.lit("FRAME\n"),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda k: F.char(
                        (F.col("doc_id") * 13 + F.lit(f * 31) + k * 7)
                        % 128
                    ),
                ),
                "",
            ),
        )

    vid_payload = F.encode(
        F.concat(F.lit(_y4m_hdr), *[_vframe(f) for f in range(8)]),
        "UTF-8",
    )
    planted_vid = docs.select(
        "doc_id",
        vid_payload.alias("payload"),
        F.length(vid_payload).cast("long").alias("n_bytes"),
    )
    # 'ameta' leg (r13): decode_audio over planted RIFF/WAVE headers
    # with DOC-DEPENDENT geometry — format tag (PCM 1 / IEEE-float 3),
    # channels (mono/stereo), rate, bit depth (16/32) and sample count
    # all vary per doc_id, exercising the paths the 8-bit 'afp'
    # fixture cannot. The payload is built as a little-endian hex
    # string and unhex'd (no UTF-8 constraint, so bytes >= 128 in the
    # multi-byte fields are fine); content_hash = hex(payload) pins
    # every byte against the oracle's independently assembled hex.
    # The zero-filled data chunk is legal: decode_audio reads only
    # chunk lengths, and n_samples = data_len // frame is the value
    # being checked.
    def _u16le(c):
        return F.concat(
            F.lpad(F.hex(c % 256), 2, "0"),
            F.lpad(F.hex(F.shiftright(c, 8) % 256), 2, "0"),
        )

    def _u32le(c):
        return F.concat(
            *[
                F.lpad(F.hex(F.shiftright(c, 8 * i) % 256), 2, "0")
                for i in range(4)
            ]
        )

    did = F.col("doc_id")
    a_tag = F.when(did % 3 == 0, F.lit(3)).otherwise(F.lit(1)).cast("long")
    a_bits = (
        F.when(did % 3 == 0, F.lit(32)).otherwise(F.lit(16)).cast("long")
    )
    a_ch = (did % 2 + 1).cast("long")
    a_rate = (F.lit(8000) + (did % 5) * 2000).cast("long")
    a_nsamp = (F.lit(16) + did % 17).cast("long")
    a_frame = a_ch * (a_bits / F.lit(8)).cast("long")
    a_dlen = a_nsamp * a_frame
    a_hex = F.concat(
        F.lit("52494646"),  # RIFF
        _u32le(F.lit(36) + a_dlen),
        F.lit("57415645666D742010000000"),  # WAVE, fmt , size 16
        _u16le(a_tag),
        _u16le(a_ch),
        _u32le(a_rate),
        _u32le(a_rate * a_frame),
        _u16le(a_frame),
        _u16le(a_bits),
        F.lit("64617461"),  # data
        _u32le(a_dlen),
        F.repeat(F.lit("00"), a_dlen.cast("int")),
    )
    planted_am = docs.select("doc_id", a_hex.alias("_hx")).select(
        "doc_id",
        F.unhex("_hx").alias("payload"),
        F.length(F.unhex("_hx")).cast("long").alias("n_bytes"),
        F.hex(F.unhex("_hx")).alias("content_hash"),
    )
    ameta = decode_audio(planted_am).select(
        F.lit("ameta").alias("method"),
        "doc_id",
        "n_bytes",
        "content_hash",
        F.concat(
            F.col("format"), F.lit("@"), F.col("bit_depth").cast("string")
        ).alias("format"),
        F.col("sample_rate").cast("int").alias("width"),
        F.col("n_samples").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
    )
    # 'vmeta' leg (r13): decode_video metadata over the same planted
    # y4m payloads — the fps rational parse (F25:1 -> 25.0) rides the
    # format column as 'y4m@<fps>', the frame-count walk rides
    # channels, and content_hash = md5 of the raw payload bytes (the
    # oracle rebuilds the byte-identical string with chr() and md5s
    # it, so a single wrong byte anywhere in the planted fixture
    # breaks BOTH this leg and the fingerprint legs coherently)
    vmeta = decode_video(
        planted_vid.withColumn("content_hash", F.md5("payload"))
    ).select(
        F.lit("vmeta").alias("method"),
        "doc_id",
        "n_bytes",
        "content_hash",
        F.concat(
            F.col("format"), F.lit("@"), F.col("fps").cast("string")
        ).alias("format"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("n_frames").cast("int").alias("channels"),
    )
    # 'vframes' leg (r13): CONTENT-anchored frame sampling
    # (sample_video_frames anchor='content', every_nth=3 — the CDC
    # discipline on the time axis: membership = 52-bit md5 fraction
    # of the raw luma plane ≡ 0 mod 3, with the all-frames fallback
    # when no frame passes). The oracle replays the gate over the
    # chr()-rebuilt luma strings and md5s each sampled frame's PGM
    # repack; channels carries frame_idx so the sampled SET and each
    # frame's position are both value-checked
    vframes = sample_video_frames(
        planted_vid.select("doc_id", "payload"), 3, anchor="content"
    ).select(
        F.lit("vframes").alias("method"),
        "doc_id",
        "n_bytes",
        "content_hash",
        F.lit("pgm").alias("format"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("frame_idx").cast("int").alias("channels"),
    )
    vfp = (
        perceptual_hash_video(
            planted_vid.select("doc_id", "payload"), every_nth=2
        )
        .join(planted_vid.select("doc_id", "n_bytes"), "doc_id")
        .select(
            F.lit("vfp").alias("method"),
            "doc_id",
            "n_bytes",
            F.col("simhash").alias("content_hash"),
            F.lit("y4m_fp").alias("format"),
            F.col("n_frames_hashed").cast("int").alias("width"),
            F.lit(8).cast("int").alias("height"),
            F.lit(1).cast("int").alias("channels"),
        )
    )
    afp = (
        perceptual_hash_audio(planted_aud.select("doc_id", "payload"))
        .join(planted_aud.select("doc_id", "n_bytes"), "doc_id")
        .select(
            F.lit("afp").alias("method"),
            "doc_id",
            "n_bytes",
            F.col("simhash").alias("content_hash"),
            F.lit("wav_fp").alias("format"),
            F.col("sample_rate").cast("int").alias("width"),
            F.col("n_samples").cast("int").alias("height"),
            F.lit(1).cast("int").alias("channels"),
        )
    )
    return (
        stub.unionByName(real)
        .unionByName(ih)
        .unionByName(ameta)
        .unionByName(vmeta)
        .unionByName(vframes)
        .unionByName(vfp)
        .unionByName(afp)
    )


@register(
    "news_pipeline",
    f"""
    WITH {_TOKS},
    scored AS (
      SELECT doc_id, lang,
             list_sum(list_transform(ws, w -> {_SENT_CASE})) / len(ws) AS sentiment
      FROM toks
    ),
    existing(tag_name, tag_id) AS (VALUES ('en', 1), ('es', 2)),
    news AS (
      SELECT DISTINCT lang AS tag_name FROM scored
      WHERE lang NOT IN (SELECT tag_name FROM existing)
    ),
    keyed AS (
      SELECT tag_name,
             (SELECT max(tag_id) FROM existing) + row_number() OVER (ORDER BY tag_name) AS tag_id
      FROM news
    ),
    dim AS (
      SELECT tag_name, CAST(tag_id AS BIGINT) AS tag_id FROM existing
      UNION ALL SELECT tag_name, CAST(tag_id AS BIGINT) FROM keyed
    ),
    joined AS (
      SELECT s.doc_id, s.sentiment, d.tag_id
      FROM scored s JOIN dim d ON d.tag_name = s.lang
    )
    SELECT doc_id, tag_id, sentiment
    FROM joined WHERE doc_id >= 100
    """,
    doc="Reference entry point C, end to end (SURVEY §3.3): content → "
    "sentiment score (UD1) → tag-dim get-or-create surrogate keys (J3, "
    "consumer_news.py:53-57) → idempotent anti-filter against "
    "already-loaded ids (J4/url-check; simulated as doc_id < 100) — "
    "one declarative plan replacing the RSS loop + consumer + "
    "row-at-a-time inserts",
    tags=("text", "sentiment", "pipeline", "flagship"),
)
def news_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_data_pipeline_with_kafka_spark.operators.relational import (
        get_or_create_keys,
        idempotent_append,
    )

    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        "lang",
        sentiment_builtin("text", lexicon=SENTIMENT_LEXICON).alias("sentiment"),
    )
    existing_dim = local_relation(
        spark, [("en", 1), ("es", 2)], "tag_name string, tag_id long"
    )
    dim = get_or_create_keys(
        existing_dim, scored.select(F.col("lang").alias("tag_name")), "tag_name", "tag_id"
    )
    joined = scored.join(
        F.broadcast(dim), scored.lang == dim.tag_name, "inner"
    ).select("doc_id", "tag_id", "sentiment")
    already = docs.filter(F.col("doc_id") < 100).select("doc_id")
    return idempotent_append(joined, already, ["doc_id"])




# ------------------------------------------------- text-mining suite (r6)
# The driver's CORRECTNESS gate attests ~50 queries in registration
# order (round-2 note at the module top of q_relational.py), so the
# seven r6 text-mining/sampling operators land as TAGGED LEGS of one
# slot —
# the same consolidation every round has used — rendered to a common
# (tag, k1, k2, n, v) schema. Each leg's oracle is the independent
# DuckDB derivation of its operator; chunk text rides in k2 as
# chunk_id:md5(text) so content is hashed, not just shape.

_COLLOC_SQL = """
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
    uni AS (SELECT unnest(ws) AS w FROM toks),
    uc AS (SELECT w, count(*) AS c FROM uni WHERE w <> '' GROUP BY w),
    nt AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uc),
    bg AS (
      SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS b
      FROM toks WHERE len(ws) >= 2
    ),
    bc AS (
      SELECT string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2,
             count(*) AS c12
      FROM bg GROUP BY 1, 2
    ),
    scored AS (
      SELECT w1, w2, c12,
             CAST(c12 AS DOUBLE) * n
               / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS r
      FROM bc
      JOIN uc u1 ON u1.w = bc.w1
      JOIN uc u2 ON u2.w = bc.w2
      CROSS JOIN nt
      WHERE c12 >= 5
    )
    SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
           CAST(round(ln(r) * 1000000) AS BIGINT) AS pmi_micro
    FROM scored
    ORDER BY r DESC, c12 DESC, w1, w2
    LIMIT 50
"""

_LM_SQL = """
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
    uni AS (SELECT unnest(ws) AS w1 FROM toks),
    uc AS (SELECT w1, count(*) AS c1 FROM uni GROUP BY w1),
    v AS (SELECT count(*) AS v FROM uc),
    bg AS (
      SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS b
      FROM toks WHERE len(ws) >= 2
    ),
    bq AS (
      SELECT doc_id, string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2
      FROM bg
    ),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM bq GROUP BY 1, 2),
    lp AS (
      SELECT q.doc_id,
             CAST(ln((coalesce(bc.c12, 0) + 0.5)
                     / (coalesce(uc.c1, 0) + 0.5 * v.v)) AS DECIMAL(28,9)) AS lq
      FROM bq q
      LEFT JOIN bc ON bc.w1 = q.w1 AND bc.w2 = q.w2
      LEFT JOIN uc ON uc.w1 = q.w1
      CROSS JOIN v
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(CAST(sum(lq) AS VARCHAR) AS DOUBLE) / count(*) AS avg_logprob
    FROM lp GROUP BY doc_id
"""

_GOPHER_SQL = r"""
    WITH toks AS (SELECT doc_id, text, string_split(trim(text), ' ') AS ws FROM documents)
    SELECT doc_id,
      CAST(len(ws) AS BIGINT) AS n_words,
      CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) AS mean_word_len,
      CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE) / len(ws) AS frac_alpha_words,
      CAST((length(text) - length(replace(text, '#', '')))
           + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE) / len(ws) AS symbol_word_ratio,
      CAST(len(list_intersect(list_distinct(ws),
           ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
    FROM toks
"""

_CHUNK_SQL = """
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
    q AS (
      SELECT doc_id, ws,
             greatest(CAST(ceil((len(ws) - 4) / 12.0) AS INTEGER), 1) AS n_chunks
      FROM toks
    ),
    ch AS (
      SELECT doc_id,
             unnest([{'chunk_id': i, 'chunk': array_to_string(ws[i*12 + 1 : i*12 + 16], ' ')}
                     for i in range(0, n_chunks)], recursive := true)
      FROM q
    )
    SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id, chunk,
           CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens
    FROM ch
"""

_MIX_FRAC = (
    "CAST(('0x' || substr(md5('mixture-v1|' || CAST(d.doc_id AS VARCHAR)), 1, "
    f"{_FRAC_HEX_DIGITS})) AS UBIGINT) / {_FRAC_DENOM!r}"
)

# wtot/t_max/rates re-derived with the IDENTICAL left-associated IEEE
# expression order as operators.sampling.resample_to_mixture. Every
# weight literal is CAST to DOUBLE: bare decimal literals are DuckDB
# DECIMALs and fold EXACTLY (0.1+0.2+0.7 = 1.0 in decimal but
# 1.0000000000000002 in Python doubles) — without the casts, bitwise
# rate equality would hold only for weight sets whose double sum
# happens to coincide, and an edited mixture would break the oracle at
# runtime instead of never. The binding source (min n/(w/wtot); unique
# here: uniform fixture counts x distinct weights) snaps to exactly
# 1.0 on both sides.
_MIX_SQL = f"""
    WITH w(s, wgt) AS (VALUES
      ('src0', CAST(0.2 AS DOUBLE)),
      ('src1', CAST(0.5 AS DOUBLE)),
      ('src2', CAST(0.3 AS DOUBLE))),
    tot AS (SELECT CAST(0.2 AS DOUBLE) + CAST(0.5 AS DOUBLE)
                   + CAST(0.3 AS DOUBLE) AS wtot),
    c AS (SELECT source AS s, count(*) AS n FROM documents GROUP BY source),
    jv AS (
      SELECT w.s, w.wgt, c.n,
             CAST(c.n AS DOUBLE) / (w.wgt / (SELECT wtot FROM tot)) AS tv
      FROM w JOIN c USING (s)
    ),
    tm AS (SELECT min(tv) AS t_max FROM jv),
    rates AS (
      SELECT s,
             CASE WHEN tv = (SELECT t_max FROM tm) THEN 1.0
                  ELSE least(1.0,
                       ((SELECT t_max FROM tm) * wgt / (SELECT wtot FROM tot)) / n)
             END AS rate
      FROM jv
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r ON r.s = d.source
    WHERE {_MIX_FRAC} < r.rate
"""

_STRAT_FRAC = (
    "CAST(('0x' || substr(md5('strata-v1|' || CAST(doc_id AS VARCHAR)), 1, "
    f"{_FRAC_HEX_DIGITS})) AS UBIGINT) / {_FRAC_DENOM!r}"
)

_STRAT_SQL = f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang ORDER BY {_STRAT_FRAC}, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 7
"""


_WINNOW_SQL = """
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
    g AS (
      SELECT doc_id,
             [CAST(('0x' || substr(md5(array_to_string(ws[i : i+4], ' ')), 1, 13)) AS BIGINT)
              for i in range(1, len(ws) - 5 + 2)] AS H
      FROM toks WHERE len(ws) >= 5
    ),
    f AS (
      SELECT doc_id,
             CASE WHEN len(H) >= 4
                  THEN [list_min(H[i : i+3]) for i in range(1, len(H) - 4 + 2)]
                  ELSE H END AS fps
      FROM g
    )
    SELECT doc_id, unnest(list_distinct(fps)) AS fp FROM f
"""

_NBQ_BUCKETS = 1 << 18
# NB quality-classifier leg (r12): train on the doc_id-even half with
# the weak label lang='en' (the heuristic-label bootstrap the CCNet
# recipe uses), score EVERY document. The oracle replays the hashing
# trick (md5-prefix buckets over unigrams+bigrams), the closed-form NB
# counts, the decimal(28,9) log-odds quantization (absorbing JVM-vs-
# libm ln() ulps — the bigram-LM pin), the exact-decimal per-doc sum
# with the one string-hopped double conversion, and the O(1) scalars
# prior/default_w via its own ln() (Python and DuckDB both bind the
# system libm here, and the downstream decimal quantization /
# identical IEEE expression tree keep the logit bitwise). quality_prob
# = sigmoid(logit) is deliberately NOT emitted: exp() is engine-local
# at the ulp level and the logit already determines it.
_NBQ_SQL = f"""
    WITH toks AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS ws FROM documents),
    feats AS (
      SELECT doc_id, lang,
             unnest(ws || [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS t
      FROM toks
    ),
    fb AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5('nbq|' || t), 1, 13)) AS BIGINT)
               % {_NBQ_BUCKETS} AS bucket
      FROM feats
    ),
    cnt AS (
      SELECT bucket,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n0
      FROM fb WHERE doc_id % 2 = 0 GROUP BY bucket
    ),
    wt AS (
      SELECT bucket,
             CAST(ln((n1 + 1.0) / 1.0) - ln((n0 + 1.0) / 1.0)
                  AS DECIMAL(28,9)) AS w
      FROM cnt
    ),
    sc AS (
      SELECT ln(CAST(np AS DOUBLE) / CAST(nn AS DOUBLE)) AS prior,
             ln(t0 + 1.0 * {_NBQ_BUCKETS})
               - ln(t1 + 1.0 * {_NBQ_BUCKETS}) AS dw
      FROM (SELECT count(*) FILTER (lang = 'en') AS np,
                   count(*) FILTER (lang IS DISTINCT FROM 'en') AS nn
            FROM documents WHERE doc_id % 2 = 0),
           (SELECT CAST(sum(n1) AS DOUBLE) AS t1,
                   CAST(sum(n0) AS DOUBLE) AS t0 FROM cnt)
    ),
    perdoc AS (
      SELECT f.doc_id, count(*) AS nf,
             CAST(CAST(sum(coalesce(wt.w, CAST(0 AS DECIMAL(28,9))))
                       AS VARCHAR) AS DOUBLE) AS sw
      FROM fb f LEFT JOIN wt ON wt.bucket = f.bucket
      GROUP BY f.doc_id
    )
    SELECT 'nbq' AS tag, CAST(doc_id AS VARCHAR) AS k1,
           CAST(NULL AS VARCHAR) AS k2, CAST(nf AS BIGINT) AS n,
           (SELECT prior FROM sc) + (SELECT dw FROM sc) * nf + sw AS v
    FROM perdoc
    UNION ALL
    -- NULL-text docs: the engine keeps the row with NULL n_feats and
    -- a NULL logit (a missing document surfaces as missing, the
    -- sentiment convention); the feats CTE's unnest drops them, so
    -- re-emit here
    SELECT 'nbq' AS tag, CAST(doc_id AS VARCHAR) AS k1,
           CAST(NULL AS VARCHAR) AS k2, CAST(NULL AS BIGINT) AS n,
           CAST(NULL AS DOUBLE) AS v
    FROM documents WHERE text IS NULL
"""


# wsample leg (r12): Efraimidis-Spirakis weighted draw of 50 docs,
# weight = n_chars + 1 (longer docs proportionally likelier — the
# soft quality-bias shape; +1 keeps empty docs legal). The oracle
# replays the quantized ln(u)/w key verbatim: u is the md5 fraction
# shifted off zero, the DECIMAL(28,9) quantization absorbs ln() ulps
# (the bigram-LM pin), and the (key DESC, id) order is total.
_WSAMPLE_N = 50
_WSAMPLE_SQL = f"""
    SELECT doc_id, n_chars FROM (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY
               CAST(ln((CAST(('0x' || substr(md5('wsample-v1|' ||
                      CAST(doc_id AS VARCHAR)), 1, {_FRAC_HEX_DIGITS}))
                      AS BIGINT) + 1.0) / {_FRAC_DENOM!r})
                    / CAST(n_chars + 1 AS DOUBLE)
                    AS DECIMAL(28,9)) DESC, doc_id) AS rk
      FROM documents
    ) WHERE rk <= {_WSAMPLE_N}
"""


# xdup leg (r13, island rule fixed r14): ExactSubstr-style duplicated
# spans (Lee et al. 2022) at k-gram granularity — per doc, the maximal
# token runs whose every 5-gram appears >= 2 times in the corpus
# (instances, including within-doc repeats: the suffix-array
# semantics). The oracle replays the inverted-index + gaps-and-islands
# shape: positional 5-grams, HAVING count(*) >= 2, then islands merged
# on COVERAGE adjacency (a lag-flag chains starts whenever
# next_start <= prev_start + k, so touching/overlapping [pos, pos+k)
# windows form ONE maximal span — start-adjacency-only chaining would
# emit overlapping rows), span text re-sliced from the token array —
# so a boundary off-by-one, an island-merge bug, or a wrong span slice
# all break the md5.
_XDUP_K = 5
_XDUP_SQL = f"""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
    xg AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(ws[CAST(i AS INT) : CAST(i + {_XDUP_K - 1} AS INT)], ' ') AS gram
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {_XDUP_K} + 2)) AS i
            FROM toks WHERE len(ws) >= {_XDUP_K})
    ),
    xdupg AS (SELECT gram FROM xg GROUP BY gram HAVING count(*) >= 2),
    xhit AS (SELECT doc_id, pos FROM xg JOIN xdupg USING (gram)),
    xbrk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {_XDUP_K} THEN 0 ELSE 1 END AS brk
      FROM xhit
    ),
    xisl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM xbrk
    ),
    xspan AS (
      SELECT doc_id, min(pos) AS s, max(pos) + {_XDUP_K} AS e
      FROM xisl GROUP BY doc_id, isl
    )
    SELECT doc_id, s, e,
           array_to_string(t.ws[CAST(s + 1 AS INT) : CAST(e AS INT)], ' ') AS sp
    FROM xspan JOIN toks t USING (doc_id)
"""


# BPE legs (r13): the oracle re-learns the merge rules by UNROLLING
# exact sequential BPE — one (pair-count, argmax, greedy-rewrite) CTE
# triple per merge round, generated below — so the engine's
# distributed loop (functions/bpe.py::learn_bpe_merges: vocab-sized
# pair aggregation + one TakeOrdered sync per round) is value-checked
# against an INDEPENDENT derivation, not a pinned golden. The rewrite
# lambda replays the greedy left-to-right non-overlapping merge with
# DuckDB list_reduce (the CDC leg's list-of-lists seed trick); the
# tie-break (cnt DESC, a ASC, b ASC) and min_pair_freq=2 cutoff match
# the engine's. An empty or exhausted corpus empties the remaining
# bbest CTEs, so both sides emit fewer (or zero) rules — and the
# rewrite CTEs LEFT JOIN their round's bbest so an exhausted round is
# a NO-OP on the vocab, not a chain-emptying cross join (a corpus
# with < n_merges viable merges must still tokenize with the rules it
# has; review-caught r13). The
# 'bpetok' leg then applies the learned rules through the PUBLIC
# bpe_tokenize path (distinct-word rewrite + order-preserving
# reassembly); the oracle maps each corpus word through the final
# rewritten vocab — '' tokens (empty/multi-space text) fall back to
# ['</w>'] exactly as _initial_symbols produces — and content-hashes
# the per-doc token stream, so a merge-application, join, or
# word-order bug breaks the hash.
_BPE_MERGES = 8
_BPE_MIN_FREQ = 2


def _bpe_oracle_sql(n_merges: int) -> str:
    parts = [
        "bwf AS (SELECT word, count(*) AS freq FROM "
        "(SELECT unnest(string_split(trim(text), ' ')) AS word "
        "FROM documents) WHERE word <> '' GROUP BY word)",
        "bsym0 AS (SELECT word, freq, "
        "[substr(word, CAST(i AS INT), 1) for i in "
        "range(1, length(word) + 1)] || ['</w>'] AS sym FROM bwf)",
    ]
    for r in range(1, n_merges + 1):
        prev = f"bsym{r - 1}"
        parts.append(
            f"bpc{r} AS (SELECT sym[CAST(i AS INT)] AS a, "
            f"sym[CAST(i AS INT) + 1] AS b, "
            f"CAST(sum(freq) AS BIGINT) AS cnt "
            f"FROM (SELECT freq, sym, unnest(range(1, len(sym))) AS i "
            f"FROM {prev}) GROUP BY 1, 2)"
        )
        parts.append(
            f"bbest{r} AS (SELECT a, b, cnt FROM bpc{r} "
            f"WHERE cnt >= {_BPE_MIN_FREQ} "
            f"ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)"
        )
        parts.append(
            # LEFT JOIN ON TRUE, not a cross join: an exhausted round
            # (bbest empty) must be a NO-OP rewrite, not empty the
            # whole vocab chain — the engine stops learning but still
            # tokenizes with the rules it has, and the bpetok leg
            # reads the FINAL vocab state
            f"bsym{r} AS (SELECT word, freq, "
            f"CASE WHEN m.a IS NULL THEN sym ELSE "
            f"list_reduce(list_prepend(CAST([] AS VARCHAR[]), "
            f"[[s] for s in sym]), "
            f"(acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.a "
            f"AND x[1] = m.b "
            f"THEN acc[1:len(acc) - 1] || [m.a || m.b] "
            f"ELSE acc || x END) END AS sym "
            f"FROM {prev} LEFT JOIN bbest{r} m ON TRUE)"
        )
    parts.append(
        "btk AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i "
        "FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws "
        "FROM documents WHERE text IS NOT NULL))"
    )
    parts.append(
        f"bjoin AS (SELECT t.doc_id, t.i, "
        f"coalesce(s.sym, ['</w>']) AS sym "
        f"FROM (SELECT doc_id, i, ws[CAST(i AS INT)] AS word FROM btk) t "
        f"LEFT JOIN bsym{n_merges} s USING (word))"
    )
    parts.append(
        "bdoc AS (SELECT doc_id, flatten(list(sym ORDER BY i)) AS toks "
        "FROM bjoin GROUP BY doc_id)"
    )
    rule_rows = "\n    UNION ALL\n    ".join(
        f"SELECT 'bpe' AS tag, a AS k1, b AS k2, "
        f"CAST({r} AS BIGINT) AS n, CAST(cnt AS DOUBLE) AS v FROM bbest{r}"
        for r in range(1, n_merges + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + rule_rows
        + "\n    UNION ALL\n    "
        "SELECT 'bpetok' AS tag, CAST(doc_id AS VARCHAR) AS k1, "
        "md5(array_to_string(toks, ' ')) AS k2, "
        "CAST(len(toks) AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS v "
        "FROM bdoc"
    )


_BPE_SQL = _bpe_oracle_sql(_BPE_MERGES)


_MINING_SQL = f"""
    SELECT 'colloc' AS tag, w1 AS k1, w2 AS k2, c12 AS n,
           CAST(pmi_micro AS DOUBLE) AS v
    FROM ({_COLLOC_SQL})
    UNION ALL
    SELECT 'lm', CAST(doc_id AS VARCHAR), NULL, n_bigrams, avg_logprob
    FROM ({_LM_SQL})
    UNION ALL
    SELECT 'gopher', CAST(doc_id AS VARCHAR), m.k2, n_words, m.v
    FROM ({_GOPHER_SQL}) g,
         LATERAL (VALUES
           ('mean_word_len', g.mean_word_len),
           ('frac_alpha_words', g.frac_alpha_words),
           ('symbol_word_ratio', g.symbol_word_ratio),
           ('stop_hits', CAST(g.stop_hits AS DOUBLE)),
           ('gopher_ok', CAST(CAST((g.n_words >= 50 AND g.n_words <= 100000
              AND g.mean_word_len >= 3 AND g.mean_word_len <= 10
              AND g.frac_alpha_words >= 0.8 AND g.symbol_word_ratio <= 0.1
              AND g.stop_hits >= 2) AS INTEGER) AS DOUBLE))
         ) AS m(k2, v)
    UNION ALL
    SELECT 'chunk', CAST(doc_id AS VARCHAR),
           CAST(chunk_id AS VARCHAR) || ':' || md5(chunk), n_tokens,
           NULL
    FROM ({_CHUNK_SQL})
    UNION ALL
    SELECT 'mix', CAST(doc_id AS VARCHAR), source, NULL, NULL
    FROM ({_MIX_SQL})
    UNION ALL
    SELECT 'strat', CAST(doc_id AS VARCHAR), lang, NULL, NULL
    FROM ({_STRAT_SQL})
    UNION ALL
    SELECT 'winnow', CAST(doc_id AS VARCHAR), NULL, fp, NULL
    FROM ({_WINNOW_SQL})
    UNION ALL
    SELECT tag, k1, k2, n, v FROM ({_NBQ_SQL})
    UNION ALL
    SELECT 'wsample', CAST(doc_id AS VARCHAR), NULL,
           CAST(n_chars AS BIGINT), NULL
    FROM ({_WSAMPLE_SQL})
    UNION ALL
    SELECT tag, k1, k2, n, v FROM ({_BPE_SQL})
    UNION ALL
    SELECT 'xdup', CAST(doc_id AS VARCHAR), md5(sp),
           CAST(s AS BIGINT), CAST(e - s AS DOUBLE)
    FROM ({_XDUP_SQL})
"""


@register(
    "text_mining_suite",
    _MINING_SQL,
    doc="Seven r6 operators behind one value-checked slot (tagged legs): "
    "'colloc' = PMI collocation mining (functions/text.py::collocations"
    " — ranks on the exact probability ratio, emits micro-quantized "
    "pmi); 'lm' = corpus-trained bigram-LM perplexity scoring "
    "(bigram_lm_quality — decimal-quantized log-prob sums, value-exact "
    "avg_logprob); 'gopher' = the Gopher word-level quality rules "
    "(gopher_rules, unpivoted to metric rows incl. the conjunction "
    "verdict); 'chunk' = overlap-preserving chunking "
    "(operators/dedup.py::chunk_documents at max_tokens=16/overlap=4, "
    "chunk text content-hashed into the key); 'mix' = domain-mixture "
    "resampling (operators/sampling.py::resample_to_mixture — oracle "
    "re-derives wtot/t_max/rates with identical IEEE expression order "
    "and replays the md5 keep rule); 'winnow' = MOSS winnowing fingerprints (operators/dedup.py::winnowing_fingerprints at k=5/window=4 — sliding-window minima over k-gram hashes, the partial-overlap detector with the ≥ window+k−1-token match guarantee, sequential-reference pytest); 'strat' = exact-count stratified "
    "sampling (stratified_sample_exact — the identical (md5, id) "
    "window draw); 'bpe' + 'bpetok' (r13) = BPE tokenizer training "
    "end to end (functions/bpe.py): the ordered merge-rule list with "
    "each rule's selection-time corpus-weighted pair count, checked "
    "against the oracle's UNROLLED sequential-BPE re-derivation (one "
    "count/argmax/greedy-rewrite CTE triple per round — an "
    "independent derivation, not a pinned golden), and the corpus "
    "re-tokenized through the public bpe_tokenize path with the "
    "per-doc token stream content-hashed (merge application, vocab "
    "join, and word-order reassembly all land in the hash); 'xdup' "
    "(r13) = ExactSubstr-style duplicated spans "
    "(operators/dedup.py::duplicated_spans, Lee et al. 2022 at "
    "k-gram granularity): per doc, the MAXIMAL token runs whose "
    "every 5-gram appears >= 2 times corpus-wide (instances, incl. "
    "within-doc repeats — the suffix-array semantics), merged via "
    "coverage-adjacency gaps-and-islands; one row per MAXIMAL span with "
    "both boundaries and the span text md5 value-checked — the "
    "substring-level dedup that document- and chunk-level dedup "
    "cannot express.",
    tags=("text", "sampling", "suite"),
)
def text_mining_suite(
    spark: SparkSession, sf_dir: str, caches: list | None = None
) -> DataFrame:
    from crypto_data_pipeline_with_kafka_spark.functions.text import (
        bigram_lm_quality,
        collocations,
        gopher_rules,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        chunk_documents,
        duplicated_spans,
        tokenized_docs,
        winnowing_fingerprints,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.sampling import (
        resample_to_mixture,
        stratified_sample_exact,
    )

    docs = _docs(spark, sf_dir)
    nul_s = F.lit(None).cast("string")
    nul_l = F.lit(None).cast("long")
    nul_d = F.lit(None).cast("double")

    # ONE tokenize pass serves every token-consuming leg (r16, the
    # dedup_ngram_jaccard pattern): colloc's two corpus aggregations,
    # the lm leg's three (train uni/bigram + score), the bpe word-freq
    # pass, bpetok's posexplode, winnow and xdup — un-shared, each leg
    # re-scanned AND re-tokenized the corpus (8 tokenize passes → 1).
    # Legs whose NULL-text semantics differ from tokenized_docs' filter
    # (chunk_documents emits an empty chunk-0 row for a NULL text) or
    # that read non-token columns (gopher's char stats, mix/strat/
    # wsample on metadata) keep their own scan. Cache lifecycle: the
    # caches= out-param, same contract as dedup_ngram_jaccard.
    toked = tokenized_docs(docs).persist()
    if caches is not None:
        caches.append(toked)

    colloc = collocations(docs, min_count=5, top_k=50, toks=toked).select(
        F.lit("colloc").alias("tag"),
        F.col("w1").alias("k1"),
        F.col("w2").alias("k2"),
        F.col("c12").cast("long").alias("n"),
        F.col("pmi_micro").cast("double").alias("v"),
    )
    lm = bigram_lm_quality(docs, toks=toked).select(
        F.lit("lm").alias("tag"),
        F.col("doc_id").cast("string").alias("k1"),
        nul_s.alias("k2"),
        F.col("n_bigrams").cast("long").alias("n"),
        F.col("avg_logprob").alias("v"),
    )
    gop = gopher_rules(docs).select(
        F.lit("gopher").alias("tag"),
        F.col("doc_id").cast("string").alias("k1"),
        F.expr(
            "stack(5,"
            " 'mean_word_len', mean_word_len,"
            " 'frac_alpha_words', frac_alpha_words,"
            " 'symbol_word_ratio', symbol_word_ratio,"
            " 'stop_hits', cast(stop_hits as double),"
            " 'gopher_ok', cast(cast(gopher_ok as int) as double)"
            ") as (k2, v)"
        ),
        F.col("n_words").cast("long").alias("n"),
    ).select("tag", "k1", "k2", "n", "v")
    chunk = chunk_documents(docs, max_tokens=16, overlap=4).select(
        F.lit("chunk").alias("tag"),
        F.col("doc_id").cast("string").alias("k1"),
        F.concat(
            F.col("chunk_id").cast("string"), F.lit(":"), F.md5("text")
        ).alias("k2"),
        F.col("n_tokens").cast("long").alias("n"),
        nul_d.alias("v"),
    )
    mix = resample_to_mixture(
        docs, {"src0": 0.2, "src1": 0.5, "src2": 0.3}
    ).select(
        F.lit("mix").alias("tag"),
        F.col("doc_id").cast("string").alias("k1"),
        F.col("source").alias("k2"),
        nul_l.alias("n"),
        nul_d.alias("v"),
    )
    strat = stratified_sample_exact(docs, ["lang"], n_per_stratum=7).select(
        F.lit("strat").alias("tag"),
        F.col("doc_id").cast("string").alias("k1"),
        F.col("lang").alias("k2"),
        nul_l.alias("n"),
        nul_d.alias("v"),
    )
    winnow = winnowing_fingerprints(docs, k=5, window=4, toks=toked).select(
        F.lit("winnow").alias("tag"),
        F.col("doc_id").cast("string").alias("k1"),
        nul_s.alias("k2"),
        F.col("fp").alias("n"),
        nul_d.alias("v"),
    )
    # nbq (r12): train on the even half (weak label lang='en'), score
    # all docs — the one driver-side sync is the model's 2-row totals
    # collect inside train_quality_classifier, the documented
    # mixture-bounds-probe exception
    from crypto_data_pipeline_with_kafka_spark.functions.quality_model import (
        score_with_quality_classifier,
        train_quality_classifier,
    )

    labeled = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        # eqNullSafe: a NULL lang is class 0 evidence (the oracle's
        # CASE ELSE branch), not a silently-dropped label — plain ==
        # yields a NULL label whose features vanish from BOTH classes
        # and the attested equality breaks on any NULL-lang corpus
        "label", F.col("lang").eqNullSafe(F.lit("en")).cast("int")
    )
    try:
        model = train_quality_classifier(labeled, num_buckets=_NBQ_BUCKETS)
        nbq = score_with_quality_classifier(docs, model).select(
            F.lit("nbq").alias("tag"),
            F.col("doc_id").cast("string").alias("k1"),
            nul_s.alias("k2"),
            F.col("n_feats").cast("long").alias("n"),
            F.col("quality_logit").alias("v"),
        )
    except ValueError:
        # the trainer refuses a one-class (or empty) labeled set — a
        # caller bug in a library call, but for the REGISTERED query an
        # empty ingest window is routine (the empty-tables sweep): no
        # corpus means no model and no scores, not a crash
        nbq = local_relation(
            spark, [], "tag string, k1 string, k2 string, n long, v double"
        )
    from crypto_data_pipeline_with_kafka_spark.operators.sampling import (
        weighted_sample_exact,
    )

    # bpe legs (r13): learn the merge rules distributed (one corpus
    # pass for word frequencies, then vocab-sized rounds with one
    # TakeOrdered sync each — the documented tokenizer-artifact
    # exception to the no-collect rule: the rule list IS the O(n)
    # artifact), then tokenize the corpus through the PUBLIC
    # bpe_tokenize path with them. The oracle independently re-learns
    # the same rules by unrolled sequential BPE and re-applies them.
    from crypto_data_pipeline_with_kafka_spark.functions.bpe import (
        bpe_tokenize,
        learn_bpe_merges,
    )

    bstats: dict = {}
    bmerges = learn_bpe_merges(
        docs, n_merges=_BPE_MERGES, min_pair_freq=_BPE_MIN_FREQ,
        stats=bstats, toks=toked,
    )
    bpe_rules = local_relation(
        spark,
        [
            (a, b, i + 1, float(c))
            for i, ((a, b), c) in enumerate(
                zip(bmerges, bstats["merge_counts"])
            )
        ],
        "k1 string, k2 string, n long, v double",
    ).select(F.lit("bpe").alias("tag"), "k1", "k2", "n", "v")
    bpetok = bpe_tokenize(docs, bmerges, toks=toked).select(
        F.lit("bpetok").alias("tag"),
        F.col("doc_id").cast("string").alias("k1"),
        F.md5(F.concat_ws(" ", "bpe_tokens")).alias("k2"),
        F.size("bpe_tokens").cast("long").alias("n"),
        nul_d.alias("v"),
    )
    # xdup leg (r13): ExactSubstr-style duplicated spans — see the
    # oracle comment above; spans content-hashed so the island merge
    # and both boundaries land on the checked surface
    xdup = duplicated_spans(
        docs, k=_XDUP_K, min_count=2, toks=toked, caches=caches
    ).select(
        F.lit("xdup").alias("tag"),
        F.col("doc_id").cast("string").alias("k1"),
        F.md5("span_text").alias("k2"),
        F.col("span_start").alias("n"),
        F.col("n_tokens").cast("double").alias("v"),
    )
    wsample = weighted_sample_exact(
        docs.withColumn("_w", F.col("n_chars") + F.lit(1)),
        _WSAMPLE_N,
        "_w",
    ).select(
        F.lit("wsample").alias("tag"),
        F.col("doc_id").cast("string").alias("k1"),
        nul_s.alias("k2"),
        F.col("n_chars").cast("long").alias("n"),
        nul_d.alias("v"),
    )
    out = colloc
    for leg in (
        lm, gop, chunk, mix, strat, winnow, nbq, wsample, bpe_rules,
        bpetok, xdup,
    ):
        out = out.unionByName(leg)
    return out
