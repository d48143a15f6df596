"""Text-analysis column builders: tokenization, shingling, sentiment,
language-ID scoring, quality metrics.

These are the engine's first-class versions of the reference's news-text
path (VADER sentiment UD1 at ``dags/producer_news.py:16-17,66-74``;
HTML-text join UD2 at ``:68-70``) plus the LLM-training-pipeline text
operators (language-ID, quality scoring, token counting,
fingerprinting).

Everything here is a *built-in-function composition* (JVM-side,
codegen'd); the one Pandas UDF (``sentiment_pandas_udf``) exists to
exercise the Arrow UDF surface the reference's VADER scoring needs —
with a deterministic half-point lexicon so both the UDF and the pure-SQL
twin produce bitwise-identical doubles (sums of halves are exact in
binary, in any order).
"""

from __future__ import annotations

import functools as _functools

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from crypto_data_pipeline_with_kafka_spark.catalog import local_relation

# Deterministic sentiment lexicon (VADER-shaped: compound-style score per
# token; half-point values are exactly representable so summation order
# cannot perturb results). On real news text this would be the VADER
# lexicon broadcast to executors (reference producer_news.py:16-17) —
# see ``load_vader_lexicon`` for the swap-in slot.
SENTIMENT_LEXICON: dict[str, float] = {
    "fast": 2.0,
    "slow": -2.0,
    "big": 1.0,
    "small": -1.0,
    "value": 1.5,
    "merge": 0.5,
    "filter": -0.5,
    "error": -3.0,
}


def load_vader_lexicon(path: str) -> dict[str, float]:
    """Parse a VADER-format lexicon file (``token<TAB>mean<TAB>stddev
    <TAB>ratings`` per line, '#' comments allowed) into the engine's
    token→score map. The NLTK/vaderSentiment distribution's
    ``vader_lexicon.txt`` is MIT-licensed and parses as-is; it is NOT
    checked in here because this container ships neither the package
    nor network access — point ``SPARK_GRAFT_VADER_LEXICON`` at a copy
    and both sentiment paths (built-in fold and Pandas UDF) pick it up
    (reference semantics: ``dags/producer_news.py:16-17``). Scores are
    parsed with ``float()`` so the UDF and fold twins keep consuming
    the identical doubles."""
    lex: dict[str, float] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            parts = line.split("\t")
            if len(parts) < 2:
                continue
            lex[parts[0]] = float(parts[1])
    if not lex:
        raise ValueError(f"no lexicon entries parsed from {path}")
    return lex


@_functools.lru_cache(maxsize=8)
def _lexicon_for_path(path: str | None) -> dict[str, float]:
    return load_vader_lexicon(path) if path else dict(SENTIMENT_LEXICON)


def active_sentiment_lexicon() -> dict[str, float]:
    """The DEFAULT lexicon for the sentiment paths: the file named by
    ``SPARK_GRAFT_VADER_LEXICON`` when set, else the deterministic
    stand-in. The cache is keyed BY PATH (lru), so re-pointing the env
    var between calls re-resolves on its own — no private global to
    poke (r4 advice); if the FILE's contents change in place, call
    :func:`reset_sentiment_lexicon_cache`. The registered oracle
    queries do NOT go through this: they pass ``SENTIMENT_LEXICON``
    explicitly (their DuckDB twins embed those scores as constants, so
    an env-swapped lexicon must never reach them); the env swap is the
    deployment path for scoring real news text outside the oracle
    gate."""
    import os

    return _lexicon_for_path(os.environ.get("SPARK_GRAFT_VADER_LEXICON"))


def reset_sentiment_lexicon_cache() -> None:
    """Drop cached parsed lexicons so the next sentiment call re-reads
    the file named by ``SPARK_GRAFT_VADER_LEXICON`` — the public reset
    the deployment path needs when a lexicon file is updated in
    place."""
    _lexicon_for_path.cache_clear()

# Marker-token sets for the n-gram/stopword language-ID heuristic. The
# fixture "languages" share one synthetic vocabulary, so markers are
# engine-defined; on real data these are per-language stopword lists.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a"),
    "query": ("query", "table", "row"),
    "exec": ("scan", "join", "hash", "sort"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in")

# BPE-ish token pattern: letter runs, digit runs, single non-alnum marks.
BPE_TOKEN_PATTERN = r"[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed text (reference news body is a
    ' '-joined paragraph string, producer_news.py:69-70)."""
    return F.split(F.trim(col), " ")


def kgrams_from_tokens(ws: Column, k: int = 3) -> Column:
    """ALL k-word grams from a pre-tokenized array column, duplicates
    kept — repetition metrics need instance counts, not the distinct
    set. Empty array below k tokens (``sequence`` would count DOWN for
    a negative span, so the guard is built in)."""
    idx = F.sequence(F.lit(0), F.size(ws) - k)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j + 1) for j in range(k)]),
    )
    return F.when(F.size(ws) >= k, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingles_from_tokens(ws: Column, k: int = 3) -> Column:
    """Distinct k-word shingles from a pre-tokenized array column (for
    MinHash / n-gram Jaccard dedup). Requires ≥ k words (guard upstream:
    ``F.size(ws) >= k``)."""
    idx = F.sequence(F.lit(0), F.size(ws) - k)
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(ws, i + j + 1) for j in range(k)]
            ),
        )
    )


def sentiment_builtin(
    text_col: Column | str, lexicon: dict[str, float] | None = None
) -> Column:
    """Lexicon sentiment as pure built-ins: mean lexicon score over all
    tokens (unmatched tokens score 0). JVM-side; the 100-TB hot path.
    ``lexicon=None`` scores with ``active_sentiment_lexicon()``
    (env-swappable VADER); pass an explicit dict to pin the scores —
    the REGISTERED queries pin ``SENTIMENT_LEXICON`` so their DuckDB
    oracles (which embed those scores as SQL constants) hold regardless
    of the deployment env.

    Plan-size caveat: the lexicon lands in the plan as one
    ``create_map`` literal — fine at stand-in size, but a full VADER
    lexicon (~7.5k entries) makes every sentiment expression a ~15k-
    literal tree (the same planner-scaling hazard as per-dimension agg
    columns). For large lexicons use ``sentiment_scores_join`` (explode
    + broadcast-join; plan size O(1), pytest-checked at 6k entries) or
    ``sentiment_pandas_udf`` (the dict ships once per executor in the
    pickled UDF)."""
    ws = tokens(text_col)
    lex = lexicon if lexicon is not None else active_sentiment_lexicon()
    if len(lex) > 1000:
        import warnings

        warnings.warn(
            f"sentiment_builtin with a {len(lex)}-entry lexicon embeds "
            f"{2 * len(lex)} literals in the plan's create_map — planner "
            "cost grows with every expression that scores text. Use "
            "sentiment_scores_join (broadcast-join scale path, plan size "
            "O(1)) or sentiment_pandas_udf for lexicons this size.",
            stacklevel=2,
        )
    mapping = F.create_map(
        *[x for w, s in sorted(lex.items()) for x in (F.lit(w), F.lit(s))]
    )
    scores = F.transform(ws, lambda w: F.coalesce(mapping[w], F.lit(0.0)))
    total = F.aggregate(scores, F.lit(0.0), lambda acc, x: acc + x)
    return total / F.size(ws)


def sentiment_lexicon_df(spark, lexicon: dict[str, float] | None = None):
    """The lexicon as a 2-column ``(token, score)`` relation — the scale
    representation: data, not plan. A dict-literal ``create_map``
    (``sentiment_builtin``) embeds 2×|lexicon| literals in EVERY
    expression tree that scores text; this DataFrame ships the lexicon
    once per executor as a broadcast relation, so plan size stays O(1)
    at any lexicon size (the full ~7.5k-entry VADER file included)."""
    lex = lexicon if lexicon is not None else active_sentiment_lexicon()
    return local_relation(spark, sorted(lex.items()), "token string, score double")


def sentiment_scores_join(
    docs,
    lexicon_df,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "sentiment",
):
    """Lexicon sentiment at LARGE-lexicon scale: explode tokens →
    broadcast-join the ``(token, score)`` relation → per-doc mean
    (unmatched tokens score 0, same semantics as ``sentiment_builtin``).
    This is the r4-named shape that replaces the ``create_map`` literal
    when the lexicon is big enough to be a planner hazard (the
    documented ~15k-literal tree for real VADER).

    Numeric contract (the engine invariant): per-token scores are
    quantized to decimal(28,9) before the per-doc sum, so the result is
    EXACT integer-decimal arithmetic — independent of partitioning and
    merge order, unlike a double ``sum()``. For binary-exact score sets
    (the half-point stand-in; anything on a 2^-k grid) it is bitwise
    identical to the fold twins; general scores (real VADER's 0.1 grid)
    agree with the fold to within quantization, far inside the oracle's
    6dp rounding.

    Scale shape: one explode to the token stream (the cardinality every
    tokenizer pass already handles), a BroadcastHashJoin against the
    O(|lexicon|) side, one map-side-combined groupBy(id). No Python, no
    giant literal, no shuffle of the corpus beyond the groupBy."""
    ws = tokens(text_col)
    # explode_outer: a NULL-text doc keeps one (NULL token) row, so it
    # groups to a NULL sentiment exactly like the fold twins — a plain
    # explode would silently DROP the document from the output
    tok = docs.select(
        F.col(id_col), F.size(ws).alias("_n"), F.explode_outer(ws).alias("_w")
    )
    joined = tok.join(
        F.broadcast(lexicon_df), tok["_w"] == lexicon_df["token"], "left"
    )
    per = joined.groupBy(id_col, "_n").agg(
        F.sum(F.coalesce(F.col("score"), F.lit(0.0)).cast("decimal(28,9)")).alias(
            "_s"
        )
    )
    return per.select(
        F.col(id_col), (F.col("_s").cast("double") / F.col("_n")).alias(out_col)
    )


def sentiment_pandas_udf(lexicon: dict[str, float] | None = None) -> Column:
    """Arrow-batched scalar Pandas UDF twin of ``sentiment_builtin`` —
    the UD1 surface (reference wraps VADER's polarity_scores compound).
    Bitwise-equal to the built-in version with ANY lexicon: both twins
    left-fold the per-token doubles in token order (F.aggregate and the
    Python sum generator), so the IEEE addition sequences are identical
    — binary-exact half-point scores are sufficient but not necessary.
    ``lexicon`` pins the scores exactly as in ``sentiment_builtin``."""

    lex = dict(lexicon if lexicon is not None else active_sentiment_lexicon())

    @F.pandas_udf(DoubleType())
    def _sent(texts: pd.Series) -> pd.Series:
        def score(t: str) -> float:
            ws = t.strip().split(" ")
            return sum(lex.get(w, 0.0) for w in ws) / len(ws)

        return texts.map(score)

    return _sent


def normalize_text(
    col: Column | str,
    form: str | None = "NFC",
    lowercase: bool = True,
    collapse_whitespace: bool = True,
) -> Column:
    """Text canonicalization for dedup — the first step of every real
    curation pipeline (CCNet/RefinedWeb normalize before hashing, so
    ``Cafe\\u0301`` and ``Café`` and ``café  `` hash identically):
    Unicode normalization (``form`` — NFC/NFD/NFKC/NFKD, or None to
    skip) → lowercase → whitespace collapse (any ``\\s+`` run to one
    space) → trim.

    The Unicode hop is the ONE step the JVM has no built-in for, so it
    is an Arrow-batched scalar Pandas UDF over ``unicodedata``
    (stdlib — deterministic, version-pinned by the Unicode tables; the
    documented sentiment_pandas_udf exception class, never
    row-at-a-time). Everything after it stays JVM-side (``lower`` /
    ``regexp_replace`` / ``trim`` — codegen'd), in THIS order on both
    engines (DuckDB twin: ``trim(regexp_replace(lower(nfc_normalize(
    t)), '\\s+', ' ', 'g'))``), because case-mapping is not
    NFC-commutative in general. With ``form=None`` the whole pipeline
    is pure JVM. NULL in, NULL out."""
    c = F.col(col) if isinstance(col, str) else col
    if form is not None:
        if form not in ("NFC", "NFD", "NFKC", "NFKD"):
            raise ValueError(
                f"normalize_text: unknown Unicode form {form!r}"
            )
        import unicodedata

        @F.pandas_udf(StringType())
        def _norm(texts: pd.Series) -> pd.Series:
            return texts.map(
                lambda t: None
                if t is None
                else unicodedata.normalize(form, t)
            )

        c = _norm(c)
    if lowercase:
        c = F.lower(c)
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


# HTML entity decode chain for html_paragraph_text: named/numeric forms
# first, '&amp;' LAST so '&amp;lt;' decodes to '&lt;' (literal), never to
# '<' (double decode) — matching how a real parser unescapes.
_HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_paragraph_text(html_col: Column | str) -> Column:
    """Article body text from raw HTML — the reference's UD2 crawl step
    (``producer_news.py:68-70``): BeautifulSoup ``find_all('p')`` →
    per-paragraph ``.text.strip()`` → ``' '.join(...)`` — re-expressed
    as a JVM regexp chain (codegen'd, no Python in the path):

    1. drop ``<script>``/``<style>`` blocks (their text is not content);
    2. collect every ``<p ...>...</p>`` body (non-greedy, DOTALL —
       paragraphs span lines);
    3. inside each paragraph, drop HTML comments, then remaining tags
       (concatenating the text exactly like ``.text`` does — no space
       injected at tag boundaries), decode the common entities
       (``&amp;`` last, so double-escaped text stays literal), and
       ``trim`` (= ``.strip()``);
    4. join ALL paragraphs — empty ones included — with a single space,
       mirroring the reference's ``' '.join`` faithfully.

    Honest limitations vs a real parser: unclosed ``<p>`` tags (HTML5
    implies the close), ``<p`` inside attribute values or CDATA, and
    exotic entities aren't handled; on the reference's news-site markup
    the ``<p>``-scoped chain matches. This is the UD2 slot — swap a
    ``mapInPandas`` + real parser in where fidelity on adversarial HTML
    matters more than staying JVM-side."""
    col = F.col(html_col) if isinstance(html_col, str) else html_col
    no_scripts = F.regexp_replace(
        col, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " "
    )
    paras = F.regexp_extract_all(
        no_scripts, F.lit(r"(?is)<p\b[^>]*>(.*?)</p\s*>"), F.lit(1)
    )

    def _clean(p: Column) -> Column:
        p = F.regexp_replace(p, r"(?s)<!--.*?-->", "")
        p = F.regexp_replace(p, r"(?s)<[^>]+>", "")
        for ent, ch in _HTML_ENTITIES:
            p = F.regexp_replace(p, ent, ch)
        # NOT F.trim: Spark trim strips spaces only, Python .strip()
        # (the reference) strips all whitespace incl. newlines
        return F.regexp_replace(p, r"(?s)^\s+|\s+$", "")

    return F.array_join(F.transform(paras, _clean), " ")


def lang_scores(text_col: Column | str) -> dict[str, Column]:
    """Marker-hit ratio per candidate language (n-gram heuristic shape)."""
    ws = tokens(text_col)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        hits = F.size(F.filter(ws, lambda w: w.isin(*markers)))
        out[lang] = hits.cast("double") / F.size(ws)
    return out


# PII surface patterns (training-data scrubbing): deliberately simple,
# high-recall shapes — a production deployment swaps in its compliance
# team's patterns; the operator shape (JVM regexp_count / chained
# regexp_replace, no Python) is what carries to 100 TB. Order matters
# for redaction: URLs first, so an email-looking userinfo inside a URL
# is consumed by the URL rule rather than split across two.
PII_PATTERNS: dict[str, str] = {
    "url": r"https?://[^\s]+",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\- ]{6,}[0-9]",
    "ipv4": r"(?<![0-9.])(?:[0-9]{1,3}\.){3}[0-9]{1,3}(?![0-9.])",
}


def pii_counts(
    text_col: Column | str, kinds: tuple[str, ...] | None = None
) -> dict[str, Column]:
    """Per-kind PII match counts (email/url/phone/ipv4) — JVM
    ``regexp_count``, one codegen'd pass per pattern. Feed into quality
    gates (``n_pii == 0``) or routing (redact vs drop). ``kinds``
    selects a pattern subset (e.g. the RE2-expressible ones for an
    oracle-checked leg: ipv4 uses lookarounds DuckDB's RE2 cannot
    compile, so it stays pytest-attested)."""
    return {
        kind: F.regexp_count(text_col, F.lit(pat)).cast("long")
        for kind, pat in PII_PATTERNS.items()
        if kinds is None or kind in kinds
    }


def redact_pii(
    text_col: Column | str,
    replacement: str = "[PII]",
    kinds: tuple[str, ...] | None = None,
) -> Column:
    """Replace every PII match with ``replacement`` — chained JVM
    ``regexp_replace`` in PII_PATTERNS order (URLs before emails, see
    above). Idempotent as long as ``replacement`` itself matches no
    pattern (the default doesn't). ``kinds`` selects a pattern subset
    (see ``pii_counts``)."""
    out = F.col(text_col) if isinstance(text_col, str) else text_col
    for kind, pat in PII_PATTERNS.items():
        if kinds is None or kind in kinds:
            out = F.regexp_replace(out, pat, replacement)
    return out


def bigram_lm_quality(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
    toks=None,
):
    """Corpus-trained bigram language-model quality score — the
    perplexity-filter stage of a training-data pipeline (CCNet-style:
    score each document by how probable its token sequence is under a
    model of the corpus itself; gibberish, boilerplate and
    wrong-language text land in the low-probability tail). Returns
    (id, n_bigrams, avg_logprob, ppl):

    * model: add-k-smoothed bigram MLE over whitespace tokens,
      P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V), V = unigram vocab
      size — trained on ``docs`` itself in two aggregations;
    * score: mean natural-log probability over the doc's bigrams;
      ``ppl`` = exp(-avg_logprob), standard perplexity. Docs with < 2
      tokens score NULL (no bigrams).

    Order-free numerics (the engine invariant that keeps plans freely
    re-partitionable): per-bigram log-probs are computed as doubles,
    then QUANTIZED to decimal(28,9) before the per-doc sum — exact
    integer-decimal addition makes the score independent of
    partitioning and merge order. A sequential Python reference with
    the same quantization reproduces it to ≤ 1e-9 (pinned in tests;
    the quantization absorbs JVM-vs-libm log() ulp differences).

    Scale shape: two corpus aggregations with map-side combine (bigram
    counts, unigram counts — output is vocab²-bounded, far below the
    token stream), one broadcast of the O(1)-row vocab size, one join
    of doc bigrams against the count tables on the bigram key (shuffle
    keyed by high-cardinality n-grams — well spread), one groupBy(id).
    Nothing is ever collected; the model IS a pair of DataFrames, so
    100-TB corpora train the same way.

    Self-scoring convenience for ``train_bigram_lm`` +
    ``score_with_bigram_lm`` — the production CCNet shape trains on a
    CLEAN reference corpus (wiki-grade text) and scores the crawl:
    ``score_with_bigram_lm(crawl, train_bigram_lm(wiki))``. ``add_k``
    > 0 keeps unseen bigrams finite (cross-corpus scoring hits them
    constantly; self-scoring always finds its own counts).

    ``toks`` (see :func:`train_bigram_lm`) threads one pre-tokenized
    relation through BOTH the training aggregations and the scoring
    pass — three tokenize passes become zero."""
    return score_with_bigram_lm(
        docs, train_bigram_lm(docs, text_col, id_col, toks=toks),
        text_col, id_col, add_k, toks=toks,
    )


def _doc_bigrams(docs, text_col: str, id_col: str, toks=None):
    # toks: a pre-tokenized (id, _ws) relation (the dedup module's
    # tokenized_docs shape) replaces the scan+tokenize — value-identical
    # because every downstream consumer drops the rows tokenization of
    # a NULL text would drop anyway (size(NULL) = -1 < 2)
    if toks is None:
        toks = docs.select(F.col(id_col), tokens(text_col).alias("_ws"))
    return (
        toks.filter(F.size("_ws") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(slice(_ws, 1, size(_ws) - 1),"
                    " (w, i) -> struct(w as w1, _ws[i + 1] as w2))"
                )
            ).alias("_bg"),
        )
        .select(F.col(id_col), F.col("_bg.w1"), F.col("_bg.w2"))
    )


def train_bigram_lm(
    corpus, text_col: str = "text", id_col: str = "doc_id", toks=None
) -> tuple:
    """Train the bigram LM: returns ``(uni, big)`` count DataFrames —
    (w1, c1) unigram counts and (w1, w2, c12) bigram counts, both
    map-side-combined aggregations over the corpus token stream.
    Persist them (or write to parquet and read back) to score many
    batches against one model; the vocab size is derived from ``uni``
    at scoring time, so the pair is the complete model artifact.

    ``toks``: a pre-tokenized (id, ``_ws``) relation (ideally
    persisted — the dedup module's ``tokenized_docs`` shape) replaces
    both legs' scan+tokenize, so a suite whose legs all start from
    tokens pays one tokenize pass (r16; explode of a NULL token array
    drops the row, exactly what tokenizing a NULL text produced)."""
    uni = (
        (
            toks.select(F.explode("_ws").alias("w1"))
            if toks is not None
            else corpus.select(F.explode(tokens(text_col)).alias("w1"))
        )
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    big = _doc_bigrams(corpus, text_col, id_col, toks=toks).groupBy(
        "w1", "w2"
    ).agg(F.count(F.lit(1)).alias("c12"))
    return uni, big


def score_with_bigram_lm(
    docs,
    model: tuple,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
    toks=None,
):
    """Score documents against a trained ``(uni, big)`` model (see
    ``train_bigram_lm`` / ``bigram_lm_quality`` for semantics and the
    numeric contract). Bigrams and head-words unseen in the model take
    the smoothed floor — left joins + coalesce(count, 0), so P =
    (0+k)/(0+k·V) for a fully-novel bigram; out-of-corpus text scores
    high perplexity instead of erroring. ``toks`` (see
    :func:`train_bigram_lm`) replaces the scoring pass's tokenize."""
    uni, big = model
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    bg = _doc_bigrams(docs, text_col, id_col, toks=toks)
    logp = F.log(
        (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(add_k))
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(add_k) * F.col("v"))
    )
    scored = (
        bg.join(big, ["w1", "w2"], "left")
        .join(uni, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(F.col(id_col), logp.cast("decimal(28,9)").alias("_lq"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.sum("_lq").cast("string").cast("double") / F.count(F.lit(1))).alias(
            "avg_logprob"
        ),
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        "avg_logprob",
        F.exp(-F.col("avg_logprob")).alias("ppl"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """BM25 ranked retrieval: top-``k`` documents per query under the
    Robertson/Sparck-Jones Okapi BM25 weighting —
    ``idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`` with
    ``idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))`` — the standard
    sparse-retrieval baseline an LLM data pipeline runs for
    corpus search / eval-set mining next to the dense ANN path
    (operators/similarity.py).

    Scale shape (the whole point):

    * the DISTINCT query-term set broadcasts and semi-joins the
      exploded corpus BEFORE any aggregation, so every shuffle is
      O(postings of query terms), never O(corpus tokens);
    * doc length rides as a pre-explode column (constant per doc — no
      second corpus pass); N and avgdl are ONE scalar-row aggregate
      cross-joined broadcast, the repo's standard scalar shape;
    * per-term document frequencies come off the already-grouped
      postings (one row per (doc, term)), so ``df`` is a count, and the
      tiny (query-terms)-sized idf relation broadcasts back;
    * per-(query, doc) scores sum ORDER-FREE: each term contribution is
      quantized to micro units (``round(contrib · 1e6)`` as long) and
      summed exactly, so the emitted integers are independent of
      partitioning and merge order — the same engineering as the
      indicator decimal sums. Micro (not nano) is the scale because the
      one non-rational factor, ``ln``, may differ between engines in
      the last ulp (~2e-15 absolute at idf ≈ 10): that error is ~2e-6
      of a nano quantum but ~2e-9 of a micro quantum, so the rounded
      integers agree engine-to-engine with ~10⁻⁹ per-term boundary
      risk. Long headroom: contribution ≤ idf·(k1+1) ≲ 20 → ≤ 2·10⁷
      micro per term; overflow would need ~4·10¹¹ matched terms per
      (query, doc).
    * top-k per query is ONE window exchange on query_id with a
      deterministic (score DESC, doc_id ASC) order.

    Returns (query_id, doc_id, rank, score_micro, score):
    ``score_micro`` the exact integer (use it for cross-engine
    comparison), ``score`` its double rendering."""
    toked = docs.select(
        F.col(id_col), tokens(text_col).alias("_ws")
    ).withColumn("_dl", F.size("_ws"))
    stats = toked.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("_dl").alias("avgdl"),
    )
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode_outer(F.array_distinct(tokens(query_text_col))).alias("term"),
    )
    qdistinct = qterms.select("term").distinct()
    postings = (
        toked.select(F.col(id_col), "_dl", F.explode("_ws").alias("term"))
        .join(F.broadcast(qdistinct), "term")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("_dl").alias("dl"))
    )
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = (
        dfreq.crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)),
            ).alias("idf"),
            "avgdl",
        )
    )
    contrib = (
        F.col("idf")
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        postings.join(F.broadcast(idf), "term")
        .withColumn("_c_micro", F.round(contrib * F.lit(1e6)).cast("long"))
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum("_c_micro").alias("score_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("doc_id"),
            F.col("rank").cast("int").alias("rank"),
            "score_micro",
            (F.col("score_micro") / F.lit(1e6)).alias("score"),
        )
    )


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    top_k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    toks: DataFrame | None = None,
) -> DataFrame:
    """Top-``top_k`` bigram collocations by pointwise mutual information
    — phrase mining for tokenizer/vocab preparation (merge "new york"
    before BPE sees it) and corpus exploration. PMI(w1,w2) =
    ln(c12·N / (c1·c2)) over bigram instance counts, with a
    ``min_count`` support floor (unsmoothed PMI is dominated by
    singleton noise — the standard Church-Hanks guard).

    Scale shape: two map-side-combined aggregations over the exploded
    corpus (bigrams; unigrams), N as ONE broadcast scalar row, unigram
    counts joined to the min_count-filtered bigram relation (post-floor
    it is vocabulary-sized — both joins are AQE-broadcastable), and the
    final ranking is a top-k TakeOrdered, never a global sort.

    Cross-engine determinism (the oracle-checkable construction): the
    ranking orders on the RAW probability ratio c12·N/(c1·c2) — exact
    integers below 2^53 rendered to doubles, one correctly-rounded
    division, so the ordering double is bitwise identical in any
    engine, and ln is monotone so the order equals the PMI order
    without ever ranking on a transcendental. Ties break on (c12 DESC,
    w1, w2). The emitted ``pmi_micro`` is ``round(ln(r)·1e6)`` as a
    long — the same micro-quantization as ``bm25_topk``, absorbing the
    last-ulp ln differences between engines; ``pmi`` is the double
    rendering for human use.

    Returns (w1, w2, c12, pmi, pmi_micro).

    ``toks``: a pre-tokenized (id, ``_ws``) relation replaces both
    corpus passes' scan+tokenize (see :func:`train_bigram_lm`)."""
    bg = _doc_bigrams(docs, text_col, id_col, toks=toks)
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = (
        (
            toks.select(F.explode("_ws").alias("w"))
            if toks is not None
            else docs.select(F.explode(tokens(text_col)).alias("w"))
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tokens = uni.agg(F.sum("c").alias("n"))
    scored = (
        big.filter(F.col("c12") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_tokens))
        .select(
            "w1",
            "w2",
            "c12",
            # c1/c2 cast to double BEFORE multiplying: two ~4e9-count
            # tokens would overflow the 64-bit product on a web corpus
            (
                F.col("c12").cast("double")
                * F.col("n")
                / (F.col("c1").cast("double") * F.col("c2").cast("double"))
            ).alias("_r"),
        )
        .withColumn("pmi", F.log("_r"))
        .withColumn("pmi_micro", F.round(F.col("pmi") * 1e6).cast("long"))
    )
    return (
        scored.orderBy(F.col("_r").desc(), F.col("c12").desc(), "w1", "w2")
        .limit(top_k)
        .drop("_r")
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, word-level
    subset — the fixture corpus is single-line, so the line-shape rules
    don't apply): per document — word count bounds, mean word length in
    [3, 10], ≥ 80% of words containing an alphabetic character,
    symbol-to-word ratio (# and ASCII ellipsis) ≤ 0.1, and at least two
    of the canonical stop set present — plus the conjunction
    ``gopher_ok``. Complements the distinct-ratio/repetition gates in
    ``text_profile``; an LLM pipeline runs both families.

    All pure JVM built-ins over one tokenization (zero shuffles — a
    per-row column map the optimizer pipelines into the scan), and
    every emitted double is an exact-integer division, so the DuckDB
    oracle matches bitwise.

    Returns (id, n_words, mean_word_len, frac_alpha_words,
    symbol_word_ratio, stop_hits, gopher_ok)."""
    txt = F.col(text_col)
    ws = tokens(text_col)
    n = F.size(ws)
    word_len_sum = F.aggregate(
        F.transform(ws, F.length), F.lit(0).cast("long"), lambda a, x: a + x
    )
    mean_len = word_len_sum.cast("double") / n
    frac_alpha = (
        F.size(F.filter(ws, lambda w: w.rlike("[a-zA-Z]"))).cast("double") / n
    )
    n_hash = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    n_ellipsis = F.regexp_count(txt, F.lit(r"\.\.\."))
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / n
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(ws), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    )
    out = docs.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        symbol_ratio.alias("symbol_word_ratio"),
        stop_hits.cast("long").alias("stop_hits"),
    )
    ok = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("stop_hits") >= 2)
    )
    return out.withColumn("gopher_ok", ok)
