"""Document deduplication family (LLM-training-pipeline operators):
exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:
* everything is inverted-index / band-bucket joins — NO cartesian
  products anywhere; candidate generation shuffles on shingle / band-key
  / simhash-chunk, each of which is high-cardinality and well-spread.
* hashes are md5-based (built-in, identical in Spark and DuckDB), so the
  DuckDB oracles verify these pipelines VALUE-exactly — minhash included.
* the verify stage (exact Jaccard) runs only on candidate pairs.

The reference's only dedup is exact-key anti-join / INSERT IGNORE
(SURVEY §2.2 P6, §2.3 J2); the near-dup family is the engine's
extension surface.

Cache lifecycle: ``jaccard_pairs`` / ``minhash_lsh_dedup`` /
``simhash_pairs`` persist intermediates that feed multiple consumers.
The returned DataFrames are lazy, so they cannot unpersist themselves;
CALLERS own the cache lifecycle — call ``spark.catalog.clearCache()``
(or ``.unpersist()`` on the inputs) after the consuming action in
long-lived sessions (bench.py does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crypto_data_pipeline_with_kafka_spark.catalog import widen_if_narrow
from crypto_data_pipeline_with_kafka_spark.operators._store_step import (  # noqa: F401
    StoreBatch,
    StoreFamily,
    check_store_algo,
    check_store_batch_monotonic,
    run_store_step,
)
from crypto_data_pipeline_with_kafka_spark.functions.text import (
    kgrams_from_tokens,
    shingles_from_tokens,
    tokens,
)


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct
    content, with the canonical (min) id and the duplicate count.
    Map-side partial agg keeps the shuffle at one row per distinct hash."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def tokenized_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    widen: bool = True,
) -> DataFrame:
    """The (id, ``_ws`` token array) base every token-consuming dedup
    operator derives first — exposed so a multi-leg caller can build it
    ONCE, persist it, and thread it through the ``toks=`` hooks of
    :func:`shingle_rows` / :func:`chunk_level_dedup` (the same
    shared-relation pattern as similarity's ``cand=``): un-shared, each
    leg re-scans and re-tokenizes the corpus. NULL-text rows dropped
    (every consumer's contract); caller owns the persist lifecycle."""
    return (
        (widen_if_narrow(df, id_col) if widen else df)
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens(text_col).alias("_ws"))
    )


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    widen: bool = True,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(id, shingle) rows — distinct k-shingles per document.

    The token array is materialized as a column FIRST: inlining
    ``split(trim(text))`` into the shingle lambda would re-evaluate the
    split for every element_at (k+1 splits per shingle — measured ~7×
    slower at sf0.1).

    The input is widened first (:func:`widen_if_narrow`): the k·md5
    work downstream of the explode inherits the scan's partitioning,
    and a single-split scan would serialize it. Pass ``widen=False``
    for derived (non-scan-rooted) inputs — the widen probe would
    materialize their upstream stages under AQE just to count
    partitions (the widen_if_narrow caller contract).

    ``toks``: a pre-tokenized :func:`tokenized_docs` frame (ideally
    persisted) replaces the scan+tokenize — a suite whose legs all
    start from tokens then tokenizes the corpus once."""
    toked = (
        toks
        if toks is not None
        else (widen_if_narrow(df, id_col) if widen else df).select(
            F.col(id_col), tokens(text_col).alias("_ws")
        )
    )
    return (
        toked.filter(F.size("_ws") >= k)
        .select(
            F.col(id_col),
            F.explode(shingles_from_tokens(F.col("_ws"), k)).alias("shingle"),
        )
    )


def _jaccard_from_inter(inter: DataFrame, sizes: DataFrame, min_jaccard: float) -> DataFrame:
    sa = sizes.select(F.col(sizes.columns[0]).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(sizes.columns[0]).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= min_jaccard)


def jaccard_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    min_jaccard: float = 0.8,
    max_doc_freq: int | None = None,
    caches: list | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted-index
    self-join: only pairs sharing ≥1 shingle are ever materialized;
    intersection counts come from the shingle-equality join, union sizes
    from per-doc shingle counts. Returns (id_a, id_b, jaccard).

    ``max_doc_freq`` is the 100-TB guard: drop postings for shingles
    appearing in more than N documents before pairing (stop-shingles
    quadratically dominate the candidate count but contribute almost no
    Jaccard evidence; the union sizes still count them, so reported
    jaccard only UNDER-estimates — pairs found are still true pairs).
    None (the oracle-checked default) keeps exact semantics.

    ``sh`` feeds three consumers (sizes + both join sides) — persist it
    so the tokenize/shingle explode runs once. Pass ``caches`` (a
    list) to receive the persisted handle for explicit unpersist —
    otherwise the module's cache-lifecycle contract applies (caller
    clears when done)."""
    sh = sh.persist()
    if caches is not None:
        caches.append(sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    postings = sh
    if max_doc_freq is not None:
        # doc-frequency via an unordered window over shingle, not a
        # groupBy+join: the filtered postings are already partitioned on
        # shingle, so the self-join below reuses that exchange on both
        # sides (ReusedExchange) instead of shuffling twice more —
        # measured 2.2× faster at sf0.1, same rows.
        # The filtered relation is PERSISTED (r16): both self-join
        # sides consume it, and a persisted ``sh`` loses its output
        # partitioning through the InMemoryRelation (the r15
        # IMR-over-AdaptiveSparkPlan finding), so exchange reuse no
        # longer deduplicated the two window chains — un-persisted,
        # the doc-frequency window (full posting shuffle + sort) ran
        # TWICE per action, once per join side. Plan evidence: Window
        # 2 → 1, Sort 2 → 1, Exchange 6 → 5 on the pairs leg; rows
        # identical. (Repartitioning sh on shingle before its persist
        # was measured instead and rejected: the cache still reports
        # no partitioning, so it only ADDED an exchange.)
        w = Window.partitionBy("shingle")
        postings = (
            sh.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
            .persist()
        )
        if caches is not None:
            caches.append(postings)
    a = postings.select(F.col(id_col).alias("id_a"), "shingle")
    b = postings.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_from_inter(inter, sizes, min_jaccard)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    min_containment: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    corpus_shingles: DataFrame | None = None,
    benchmark_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents whose k-gram
    overlap with any benchmark/eval document is too high to keep in a
    training set. Returns (doc_id, bench_id, overlap, n_bench,
    containment) for every flagged (corpus doc, benchmark doc) pair,
    where ``containment`` = |shingles(doc) ∩ shingles(bench)| /
    |shingles(bench)| — DIRECTIONAL, normalized by the benchmark side,
    so embedding a whole eval item inside a long document still scores
    1.0 (plain Jaccard would dilute it toward 0).

    ``min_containment`` tunes the regime: 1.0 with large k ≈ the
    "verbatim long n-gram" rule; lower thresholds catch paraphrased
    splices that still share most of the eval item's k-grams.
    Documents with fewer than ``k`` tokens produce no shingles and are
    never flagged.

    100-TB shape: the benchmark relation is eval-set-sized — sublinear
    to the corpus — so its distinct shingles BROADCAST to the corpus
    scan; the only shuffle is the groupBy on (doc, bench) HITS, which
    is sparse (corpus docs sharing zero k-grams with every benchmark
    never leave the map side). The corpus is read once, no self-join,
    no corpus-sized state anywhere.

    ``corpus_shingles`` accepts an already-built (id, shingle) relation
    (``shingle_rows(corpus, k=...)`` — with the SAME k, caller's
    responsibility) so a pipeline that has already shingled the corpus
    for pair generation does not tokenize+explode it a second time.
    ``benchmark_shingles`` is the same hook for the BENCHMARK side:
    when the eval slice is itself a subset of an already-shingled
    corpus (e.g. the registered query's doc_id%97 slice), pass its
    filtered shingle rows so the benchmark is not re-scanned and
    re-tokenized — shingling is per-row, so filter-then-shingle and
    shingle-then-filter are identical (r15: the un-hooked form cost
    two extra corpus scans + token explodes per run). BOTH hooks carry
    the corpus_shingles same-``k`` caveat: a relation shingled at a
    different k silently changes containment scores rather than
    erroring, so the caller must pass shingles built with THIS call's
    k. Column shape is guarded below (r16) — a differently-keyed
    relation refuses at plan-build instead of failing later inside the
    join resolution."""
    for rel, hook, idc in (
        (corpus_shingles, "corpus_shingles", id_col),
        (benchmark_shingles, "benchmark_shingles", bench_id_col),
    ):
        if rel is not None and not {idc, "shingle"} <= set(rel.columns):
            raise ValueError(
                f"decontaminate({hook}=): expected columns ('{idc}', "
                f"'shingle') but got {rel.columns} — pass a "
                "shingle_rows() relation keyed the way this call reads "
                "it (and built with the SAME k; a k mismatch cannot be "
                "detected from the schema and silently changes "
                "containment scores)"
            )
    c_sh = (
        corpus_shingles
        if corpus_shingles is not None
        else shingle_rows(corpus, text_col, id_col, k)
    ).select(F.col(id_col).alias("doc_id"), "shingle")
    b_sh = (
        benchmark_shingles
        if benchmark_shingles is not None
        else shingle_rows(benchmark, text_col, bench_id_col, k)
    ).select(F.col(bench_id_col).alias("bench_id"), "shingle")
    sizes = b_sh.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_bench"))
    hits = (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    return (
        hits.join(F.broadcast(sizes), "bench_id")
        .select(
            "doc_id",
            "bench_id",
            "overlap",
            "n_bench",
            (F.col("overlap").cast("double") / F.col("n_bench")).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= min_containment)
    )


def jaccard_for_candidates(
    sh: DataFrame,
    cand: DataFrame,
    id_col: str = "doc_id",
    min_jaccard: float = 0.8,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard restricted to an explicit candidate pair list —
    cost |cand| × shared-shingles, independent of how many non-candidate
    pairs share shingles. THE verify stage for LSH: never falls back to
    the full inverted-index join.

    ``sizes`` (id, n_sh) skips the per-doc shingle-count aggregation
    when the caller already has it — the signature pass rides it along
    for free (``minhash_signatures(with_size=True)``), saving one full
    aggregation over the corpus-sized shingle relation."""
    if sizes is None:
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.join(sh.select(F.col(id_col).alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_from_inter(inter, sizes, min_jaccard)


def minhash_signatures(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    with_size: bool = False,
) -> DataFrame:
    """MinHash signature per document: h_i = min(md5('i|' || shingle)).
    Lexicographic min over fixed-width hex == numeric min of the hash —
    and md5 is identical across engines, so signatures are oracle-exact.
    One aggregation pass computes all hashes (no per-hash explode);
    ``with_size`` rides the shingle count (``n_sh``, the Jaccard union
    term) along in the SAME pass — no second aggregation."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    if with_size:
        aggs.append(F.count(F.lit(1)).alias("n_sh"))
    return sh.groupBy(id_col).agg(*aggs)


def minhash_band_rows(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Long-form LSH band keys: one (id, band_id, band_key) row per
    document per band, where band_key is the concatenation of the band's
    ``num_hashes/bands`` signature hashes. This is both the candidate
    join key AND the persisted index format for incremental dedup;
    ``carry_cols`` names extra ``sig`` columns to keep on every row."""
    rows = num_hashes // bands
    band_cols = [
        F.concat(*[F.col(f"h{b * rows + r}") for r in range(rows)]).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols, *carry_cols)
    stack_expr = "stack({n}, {args}) as (band_id, band_key)".format(
        n=bands, args=", ".join(f"'{b}', band{b}" for b in range(bands))
    )
    return banded.select(F.col(id_col), F.expr(stack_expr), *carry_cols)


def minhash_band_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """LSH banding: signature split into ``bands`` bands of
    ``num_hashes/bands`` rows; documents sharing any band key become
    candidate pairs. Returns distinct (id_a, id_b)."""
    long = minhash_band_rows(sig, id_col, num_hashes, bands)
    a = long.select(F.col(id_col).alias("id_a"), "band_id", "band_key")
    b = long.select(F.col(id_col).alias("id_b"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    min_jaccard: float = 0.8,
    widen: bool = True,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline: shingle → signature → band
    candidates → exact-Jaccard verification ON CANDIDATES ONLY.
    At 100 TB the candidate set (not the corpus square) bounds the cost;
    the shingle relation is persisted because signature and verify both
    consume it. The signature pass rides the per-doc shingle count
    along (``with_size=True``), so the verify stage's union sizes cost
    zero extra aggregation over the shingle relation; the O(docs)
    signature relation is persisted because bands and sizes both read
    it. ``widen=False`` for derived (non-scan) inputs — see the
    widen_if_narrow caller contract."""
    sh = shingle_rows(df, text_col, id_col, k, widen=widen).persist()
    sig = minhash_signatures(sh, id_col, num_hashes, with_size=True).persist()
    cand = minhash_band_pairs(sig, id_col, num_hashes, bands)
    sizes = sig.select(id_col, "n_sh")
    return jaccard_for_candidates(sh, cand, id_col, min_jaccard, sizes=sizes).select(
        "id_a", "id_b", "jaccard"
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    store_dir: str,
    batch_id: int,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    min_jaccard: float = 0.8,
) -> DataFrame:
    """Dedup an ARRIVING batch against every previously seen document —
    the operational 100-TB shape: a corpus is never re-deduped from
    scratch; new data joins a persisted index. The MinHash member of
    the incremental store family; the batch-stamped contract
    (idempotent per-batch overwrites, ``batch_id < N`` pruning,
    latest-wins re-ingest, flags read back) is the shared one in
    :mod:`operators._store_step`.

    The index is two tables under ``store_dir``: ``bands`` (id,
    band_id, band_key, n_sh) and ``shingles`` (id, shingle).
    Candidates are documents sharing a band key; verify is exact
    Jaccard over the candidates' shingles only; each new doc keeps its
    best earlier duplicate (max jaccard, ties to the smallest id) as
    (id, dup_of, jaccard).

    ALL documents are indexed, duplicates included: if A~B and B~C but
    A≁C, a later C must still be caught via B. With batches in
    increasing (``batch_id``, ``id_col``) order the flagged set is
    EXACTLY ``{id_b : ∃ id_a < id_b with a shared band key and jaccard
    ≥ t}`` — what the one-shot :func:`minhash_lsh_dedup` derives (band
    keys and jaccard are per-pair deterministic), the equivalence the
    oracle and ``tests/test_dedup_similarity.py`` check.

    Self-stamped era: (k, num_hashes, bands) shape the stored shingles
    and band keys, so a store built at one geometry refuses another
    (``check_store_algo``); ``min_jaccard`` is a read-side knob and
    stays free per batch."""
    return run_store_step(
        new_docs.sparkSession,
        _minhash_family(
            new_docs, text_col=text_col, id_col=id_col, k=k,
            num_hashes=num_hashes, bands=bands, min_jaccard=min_jaccard,
        ),
        store_dir,
        batch_id,
    )


def _minhash_family(
    new_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    min_jaccard: float = 0.8,
) -> StoreFamily:
    def featurize(pin) -> StoreBatch:
        sh_new = pin(shingle_rows(new_docs, text_col, id_col, k))
        # n_sh rides on the band rows (the stored layout)
        bands_new = pin(minhash_band_rows(
            minhash_signatures(sh_new, id_col, num_hashes, with_size=True),
            id_col, num_hashes, bands, carry_cols=("n_sh",),
        ))
        return StoreBatch(
            index=(bands_new, sh_new),
            base=sh_new,
            a=bands_new.select(F.col(id_col).alias("id_a"), "band_id", "band_key"),
            b=bands_new.select(F.col(id_col).alias("id_b"), "band_id", "band_key"),
        )

    return StoreFamily(
        id_col=id_col,
        tables=("bands", "shingles"),
        base_table="shingles",
        keys=("band_id", "band_key"),
        featurize=featurize,
        earlier_keys=lambda e: e.select(
            F.col(id_col).alias("id_a"), "band_id", "band_key"
        ),
        verify=lambda cand, sh: jaccard_for_candidates(
            sh, cand, id_col, min_jaccard
        ),
        score="jaccard",
        descending=True,
        match_col="dup_of",
        algo=f"minhash/k={k}/h={num_hashes}/bands={bands}",
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over near-dup
    pairs → (doc_id, canonical_id) with canonical = MIN doc id of the
    component. This is the step an LLM dedup pipeline runs AFTER pair
    generation — pairs say "these two are near-dups"; keeping one doc
    per transitive cluster needs components. Only documents appearing
    in ≥ 1 pair are returned (singletons are their own canonical).

    Algorithm: iterative min-label propagation with pointer jumping
    (the DataFrame form of hash-to-min, cf. Rastogi et al., "Finding
    Connected Components in Map-Reduce"): each round every node takes
    the min of its own label and its neighbors' labels, then labels are
    shortcut through themselves (label := label(label)), which squares
    the propagation distance — convergence in O(log diameter) rounds,
    not O(diameter). Labels are always node ids, and per-node labels
    only ever DECREASE, so the fixpoint is exactly the component min.

    Scale shape: each round is one shuffle on dst (neighbor min, with
    map-side partial agg) + one self-join on label (the jump); state is
    one (id, label) row per node — never edges × labels.

    Lineage is TRUNCATED, not just cached: Catalyst logical plans are
    trees, so every self-join DUPLICATES its subtree — with a cached-
    but-untruncated lineage the round-k plan embeds ~2^k copies of the
    whole upstream pairs pipeline and per-action analysis time explodes
    (measured: seconds of pure driver planning per action at round 2,
    dwarfing execution). ``localCheckpoint`` cuts each round to a leaf:
    ``edges`` eagerly (one sequential job that also materializes the
    caller's persisted ``pairs`` exactly once), each round's labels
    lazily (planned small, truncated when the probe materializes them).
    On a real cluster point ``spark.sparkContext.setCheckpointDir`` at
    durable storage and swap ``.checkpoint()`` in for executor-loss
    recovery; the checkpointed RDD blocks are reclaimed by the
    ContextCleaner when the round DataFrames go out of scope.

    Convergence probe: per-node labels are MONOTONE non-increasing
    across a round, so the label sum (exact decimal — no long overflow
    at any id scale) is strictly decreasing until the fixpoint and
    equal exactly at it — no join against the previous labels needed.
    Driver-sync shape: near-dup clusters are DENSE (usually complete
    cliques — every member pairs with every other), so the seed
    labeling min(own, neighbors) is almost always the fixpoint
    already. Round 1 is built lazily on the seed and ONE combined
    action computes both label sums (a crossJoin of two scalar
    aggregates — O(1) result, and the job materializes the round). The
    common case is therefore one checkpoint job + one probe job; only
    a genuinely unconverged graph (label chains) pays one more action
    per extra round. ``max_iters`` is a loud backstop (2^25 diameter ≫
    any graph), raised rather than silently emitting unconverged
    labels."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # round 0 folded into init: every node appears as src in the doubled
    # edge list, so one groupBy seeds each label with min(own, neighbors).
    # Lazy-truncated like the rounds: the probe and round-1 plans each
    # reference the seed several times (both probe branches + nbr + the
    # cand self-join legs), and a leaf keeps those references one RDD
    # scan instead of duplicated aggregation subtrees.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nlab"))
        .select(
            F.col("src").alias("id"), F.least("src", "nlab").alias("lab")
        )
        .localCheckpoint(eager=False)
    )

    def _round(lbl: DataFrame) -> DataFrame:
        nbr = (
            edges.join(lbl.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.min("lab").alias("nlab"))
        )
        cand = (
            lbl.join(nbr, lbl["id"] == nbr["dst"], "left")
            .select(
                "id", F.least(F.col("lab"), F.coalesce("nlab", "lab")).alias("lab")
            )
        )
        # pointer jump: label := label(label) — squares propagation
        # distance; every label is a node id, so the self-join is total.
        # Lazy truncation: planned now (small — edges is a leaf),
        # computed by the next probe action, a leaf ever after.
        return (
            cand.alias("x")
            .join(cand.alias("y"), F.col("x.lab") == F.col("y.id"))
            .select(F.col("x.id").alias("id"), F.col("y.lab").alias("lab"))
            .localCheckpoint(eager=False)
        )

    def _sum(lbl: DataFrame) -> DataFrame:
        return lbl.agg(F.sum(F.col("lab").cast("decimal(38,0)")).alias("s"))

    # Only the last two rounds are ever referenced — holding the whole
    # history would pin every round's checkpointed blocks in executor
    # storage until return; dropping the refs lets the ContextCleaner
    # reclaim them as promised above.
    cur = _round(labels)
    # ONE action: seed sum and round-1 sum in a single job. Equal sums
    # ⇔ the seed was already the fixpoint (monotonicity), so round 1 is
    # fixpoint-equal too (and is the materialized leaf we return).
    row = (
        _sum(labels)
        .select(F.col("s").alias("s_prev"))
        .crossJoin(_sum(cur).select(F.col("s").alias("s_last")))
        .first()
    )
    prev_s, last_s = row["s_prev"], row["s_last"]
    rounds = 1
    while last_s != prev_s:
        if rounds >= max_iters:
            raise RuntimeError(
                f"connected_components: no fixpoint after {max_iters} rounds — "
                "pointer jumping converges in O(log diameter), so this "
                "indicates a bug or an adversarial graph; raise max_iters "
                "explicitly if the graph is legitimate"
            )
        cur = _round(cur)
        rounds += 1
        prev_s = last_s
        last_s = _sum(cur).first()["s"]
    return cur.select(
        F.col("id").alias("doc_id"), F.col("lab").alias("canonical_id")
    )


def select_cluster_survivors(
    docs: DataFrame,
    clusters: DataFrame,
    quality_col=None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-weighted canonical selection: ONE surviving document per
    duplicate cluster — the member with the HIGHEST quality (ties →
    lowest id), not blindly the min-id canonical. After near-dup
    clustering an LLM pipeline keeps exactly one member per cluster;
    min-id is arbitrary, while production pipelines keep the best copy
    (longest / highest-scoring — the RefinedWeb/FineWeb keep-best
    policy). ``quality_col`` defaults to ``length(trim(text))``: near
    -dup cluster members usually differ by truncation or boilerplate,
    so the longest member is the information-maximal one.

    Input ``clusters`` is :func:`connected_components` output
    (doc_id, canonical_id); returns (cluster_id, survivor_id, quality)
    with cluster_id = the component's min-id label.

    Scale shape: clusters carry one row per PAIRED doc — O(duplicates),
    far below the corpus — joined to the corpus on id (an equi-join AQE
    broadcasts when the paired set is small), then ONE window exchange
    keyed on cluster_id. ``row_number`` with an explicit (quality DESC,
    id ASC) order, not ``max_by``, so ties are deterministic under any
    partitioning."""
    q = quality_col if quality_col is not None else F.length(F.trim(F.col("text")))
    if isinstance(q, str):
        q = F.col(q)
    member_q = clusters.join(
        docs.select(F.col(id_col), q.cast("double").alias("quality")), id_col
    )
    w = Window.partitionBy("canonical_id").orderBy(
        F.col("quality").desc(), F.col(id_col).asc()
    )
    return (
        member_q.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("canonical_id").alias("cluster_id"),
            F.col(id_col).alias("survivor_id"),
            "quality",
        )
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 8192,
    overlap: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split long documents into ≤ ``max_tokens``-token chunks with
    ``overlap`` shared tokens between consecutive chunks — the upstream
    remedy the simhash lane guard (and any bounded-per-doc operator)
    points at, and the standard pre-tokenization step of an LLM data
    pipeline. Returns (id, chunk_id, text, n_tokens); docs at or under
    the bound pass through as chunk 0.

    Deterministic and declarative: one ``sequence`` + ``transform`` +
    ``posexplode`` over the token array — chunk i covers tokens
    [i·stride, i·stride + max_tokens) with stride = max_tokens −
    overlap, so every window of ≤ overlap+1 consecutive tokens lands
    intact in some chunk (shingles/minhash windows spanning a cut are
    not lost). Emitted text is whitespace-NORMALIZED (tokens rejoined
    with single spaces) — identical to what tokens() downstream would
    see anyway. No shuffle at all: chunking is a per-row flatMap the
    optimizer pipelines into the scan."""
    stride = max_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than max_tokens")
    toked = df.select(F.col(id_col), tokens(text_col).alias("_ws"))
    n = F.size("_ws")
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / stride).cast("int"), F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice("_ws", i * stride + 1, max_tokens)),
    )
    return toked.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", text_col)
    ).withColumn("n_tokens", F.size(tokens(text_col)))


def chunk_level_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_chunk: int = 8,
    min_docs: int = 2,
    widen: bool = True,
    caches: list | None = None,
    boundaries: str = "fixed",
    cdc_window: int = 4,
    cdc_divisor: int = 8,
    cdc_min_words: int = 4,
    cdc_max_words: int = 32,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Sub-document dedup, CCNet/RefinedWeb line-dedup style: drop the
    SPANS shared across documents while keeping the documents — the
    boilerplate remedy (headers, navigation, license blocks) that
    document-level dedup (exact / MinHash) cannot express. Real
    pipelines split on newlines; the fixture corpus is single-line, so
    the unit here is a word chunk, with TWO boundary disciplines:

    * ``boundaries="fixed"`` — ALIGNED ``words_per_chunk``-word
      chunks. Cross-doc repeats are only caught when they land on the
      same chunk offsets, so ONE inserted leading word shifts every
      boundary and hides an otherwise-identical tail.
    * ``boundaries="content"`` (r8) — content-defined chunking (the
      LBFS/CDC construction, standard in large-scale dedup): a
      boundary falls after token b iff the 52-bit md5 fraction of the
      ``cdc_window``-gram ending at b ≡ 0 (mod ``cdc_divisor``).
      Boundary positions are anchored to the CONTENT, not the offset,
      so an edit only re-chunks its own neighborhood and the shared
      tail still dedups — expected chunk length ≈ ``cdc_min_words`` +
      ``cdc_divisor``; a greedy in-row fold enforces the min, and
      oversize segments post-split at ``cdc_max_words`` (the standard
      min/max regularization).

    Pipeline (both modes): per-row chunking (sequence + transform +
    posexplode, no shuffle — same shape as :func:`chunk_documents`) →
    corpus-wide chunk frequency ``count_distinct(doc)`` grouped on
    **md5(chunk)** (map-side combined; hashing first keeps the shuffle
    rows at 32 bytes of key instead of the chunk text, and md5 is
    engine-identical so the DuckDB oracle stays value-exact) → join
    instances to frequencies (a hyper-repeated boilerplate chunk is
    ONE freq row; instance-side skew is AQE skew-join territory) →
    keep chunks seen in fewer than ``min_docs`` docs → reassemble per
    doc in chunk order. Three shuffles total (freq agg, freq join,
    reassembly), each keyed well-spread — no all-pairs stage anywhere;
    the CDC boundary derivation is pure in-row array math (one md5 per
    token position).

    Returns (id, clean_text, n_kept, n_total); a doc whose every chunk
    is boilerplate drops out entirely (exact duplicates therefore
    vanish — run after exact dedup, whose canonical row survives).
    NULL-text rows are skipped. ``widen=False`` for derived (non-scan)
    inputs (the widen_if_narrow caller contract); pass ``caches`` (a
    list) to receive the internally persisted chunk relation so the
    caller can release it after materializing the result. ``toks``: a
    pre-tokenized :func:`tokenized_docs` frame (ideally persisted)
    replaces the scan+tokenize — the 'chunk' and 'cdc' legs of a suite
    then share one token base instead of re-tokenizing the corpus
    each (the r10 ngram-slot fix)."""
    if boundaries not in ("fixed", "content"):
        raise ValueError(
            f"boundaries must be 'fixed' or 'content', got {boundaries!r}"
        )
    toked = (
        toks
        if toks is not None
        else (widen_if_narrow(df, id_col) if widen else df)
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens(text_col).alias("_ws"))
    )
    if boundaries == "fixed":
        # n_total from the cheap SCALAR (not size(chunks)): the chunk
        # array inlines into the generator, and a second reference
        # would re-derive it per consumer position
        n_chunks = F.ceil(
            F.size("_ws") / F.lit(float(words_per_chunk))
        ).cast("int")
        chunks = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice("_ws", i * words_per_chunk + 1, words_per_chunk)
            ),
        )
        chunked = toked.select(
            F.col(id_col),
            n_chunks.cast("long").alias("n_total"),
            F.posexplode(chunks).alias("chunk_idx", "chunk"),
        )
    else:
        # PERSIST the chunk-array frame before the size+posexplode
        # select: a Project boundary is NOT enough — the generator
        # rewrite inlines the _chunks expression into every consumer
        # position (measured: 14 copies of the CDC md5 subtree in the
        # optimized plan, turning one 2000-word doc into a 4-minute
        # row), and only the InMemoryRelation is a hard optimizer
        # barrier. One (id, chunks) row per doc, released under the
        # module's cache-lifecycle contract (the caches out-param).
        staged = _cdc_chunks(
            toked, cdc_window, cdc_divisor, cdc_min_words, cdc_max_words,
        ).persist()
        if caches is not None:
            caches.append(staged)
        chunked = staged.select(
            F.col(id_col),
            F.size("_chunks").cast("long").alias("n_total"),
            F.posexplode("_chunks").alias("chunk_idx", "chunk"),
        )
    chunked = chunked.withColumn("_ch", F.md5("chunk"))
    # chunked feeds BOTH the frequency agg and the instance side of the
    # join; without a persist the tokenize+posexplode+md5 pipeline runs
    # twice over the corpus (the agg exchange can't be reused). Module
    # cache-lifecycle contract applies: callers clear when done (the
    # caches out-param hands them the handle).
    chunked = chunked.persist()
    if caches is not None:
        caches.append(chunked)
    freq = chunked.groupBy("_ch").agg(
        F.count_distinct(id_col).alias("_nd")
    )
    kept = chunked.join(freq, "_ch").filter(F.col("_nd") < min_docs)
    return kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
        F.first("n_total").alias("n_total"),
    )


def _cdc_chunks(
    toked: DataFrame, window: int, divisor: int, min_words: int,
    max_words: int,
):
    """Content-defined chunking over a ``(…, _ws)`` tokenized frame:
    returns the frame with ``_ws`` replaced by a ``_chunks`` text
    array. Candidate boundaries fall where the window-gram hash ≡ 0
    (mod divisor), a greedy left fold keeps only candidates ≥
    min_words past the previous accepted boundary, a boundary is
    forced at n, and oversize segments post-split at max_words (their
    LEADING edge stays content-anchored, so only genuinely
    boundary-free runs degrade toward fixed behavior).

    STAGED as two selects, not one expression: the accepted-boundary
    array ``_allb`` is referenced from INSIDE the segment transform's
    lambdas (element_at per segment and per post-split piece), and
    interpreted higher-order functions re-evaluate outer subtrees per
    lambda invocation — inlining the whole candidate+fold derivation
    there made a single 1000-word doc cost ~90 s (measured; O(n·md5)
    re-run per segment). As a materialized column (>1 reference, so
    CollapseProject keeps the boundary) each lambda access is an O(1)
    array lookup and the md5s run once per position."""
    ws = F.col("_ws")
    n = F.size(ws)
    gram_at = lambda b: F.concat_ws(  # noqa: E731 — gram ENDING at token b
        " ", F.slice(ws, b - window + 1, window)
    )
    cand = F.when(
        n >= F.lit(window),
        F.filter(
            F.sequence(F.lit(window), n),
            lambda b: (
                F.conv(F.substring(F.md5(gram_at(b)), 1, 13), 16, 10)
                .cast("long") % divisor
                == 0
            )
            & (b < n),
        ),
    ).otherwise(F.expr("array()").cast("array<int>"))
    bnds = F.aggregate(
        cand,
        F.expr("array()").cast("array<int>"),
        # try_element_at: -1 on the still-empty accumulator is NULL
        # (plain element_at raises), coalesced to the start-of-doc
        # boundary 0
        lambda acc, b: F.when(
            b - F.coalesce(F.try_element_at(acc, F.lit(-1)), F.lit(0))
            >= min_words,
            F.concat(acc, F.array(b)),
        ).otherwise(acc),
    )
    all_b = F.concat(F.array(F.lit(0)), bnds, F.array(n))
    staged = toked.withColumn("_allb", all_b)

    allb = F.col("_allb")

    def seg_chunks(s, e):
        pieces = F.ceil((e - s).cast("double") / max_words).cast("int")
        return F.transform(
            F.sequence(F.lit(0), pieces - 1),
            lambda p: F.concat_ws(
                " ",
                F.slice(
                    ws,
                    s + p * max_words + 1,
                    F.least(F.lit(max_words), e - s - p * max_words),
                ),
            ),
        )

    chunks = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(allb) - 1),
            lambda j: seg_chunks(
                F.element_at(allb, j), F.element_at(allb, j + 1)
            ),
        )
    )
    keep = [c for c in toked.columns if c != "_ws"]
    return staged.select(*keep, chunks.alias("_chunks"))


# --------------------------------------------------------------- SimHash

_HEX = "0123456789abcdef"


# Packed-lane width for the simhash aggregation: 4 bit-counters per hex
# digit ride in one long as base-2^14 lanes. Lanes must not overflow
# into each other, so per-document token counts must stay < 2^14
# (16384) — far above any sane training document; chunk longer docs
# upstream if the corpus violates it.
_SIMHASH_LANE_BITS = 14
_SIMHASH_LANE = 1 << _SIMHASH_LANE_BITS


def simhash_bits(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    widen: bool = True,
    caches: list | None = None,
) -> DataFrame:
    """64-bit SimHash as a 64-char '0'/'1' string per document.
    ``widen=False`` for derived (non-scan) inputs — see the
    widen_if_narrow caller contract.

    Token hash = first 16 hex chars of md5(word); bit j of the token is
    bit (3 - j%4) of hex digit j/4. Each token contributes
    count * (2*bit - 1) to dimension j; simhash bit j = (sum > 0).

    Execution shape: instead of 64 aggregate columns, the 4 bit-counters
    of each hex digit are PACKED into one long as base-2^14 lanes
    (ones_j stacked at lane j%4), so the per-doc aggregation is 16
    packed sums + 1 token count — 17 agg columns, a quarter of the
    shuffle width. Bit j then unpacks as ones_j = (s_p >> 14·k) % 2^14
    and sign-sum > 0 ⇔ 2·ones_j > n. Pure built-ins; md5 base keeps it
    oracle-exact in DuckDB (the oracle states the per-bit definition —
    the packing is implementation, not semantics).

    The per-doc word-count relation feeds TWO consumers (the vocab
    pass that hashes each distinct word once, and the probe side of
    the pack join), so it is persisted — un-persisted, the corpus was
    scanned, tokenized and count-aggregated twice per action (r15;
    one full corpus pass saved at any scale). Module cache-lifecycle
    contract applies: pass ``caches`` (a list) to receive the handle
    for explicit unpersist, or clear the catalog when done.
    """
    wc = (
        (widen_if_narrow(df, id_col) if widen else df)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    if caches is not None:
        caches.append(wc)
    # Hash bits depend only on the WORD: compute the 16 packed lane
    # values once per distinct word (vocab ≪ corpus — it grows
    # sublinearly, so the broadcast is safe where a per-doc broadcast
    # would not be) and join them back. (Inlining the 64-op md5/pack
    # expression tree per (doc, word) row instead was measured ~2×
    # SLOWER end to end at sf0.1 — the giant per-row expression defeats
    # codegen — so per-vocab-word evaluation is the right shape at any
    # scale.)
    vocab = wc.select("w").distinct().withColumn(
        "h", F.substring(F.md5("w"), 1, 16)
    )
    # The 16 pack expressions (and the 64-bit unpack below) are built
    # as generated SQL strings, ONE F.expr parse each, instead of
    # per-op Column arithmetic: the loops totalled ~1000 py4j round
    # trips and cost 2.5-3 s of DRIVER latency per plan build (r16
    # profile — pure Python-side construction, zero jobs). Identical
    # expression semantics (same functions, same integer types),
    # pytest- and oracle-pinned.
    packs = [
        F.expr(
            " + ".join(
                f"(CAST(shiftright(instr('{_HEX}', substr(h, {p + 1}, 1))"
                f" - 1, {3 - k}) % 2 AS BIGINT)"
                f" * CAST({_SIMHASH_LANE**k} AS BIGINT))"
                for k in range(4)
            )
        ).alias(f"p{p}")
        for p in range(16)
    ]
    word_packs = vocab.select("w", *packs)
    joined = wc.join(F.broadcast(word_packs), "w")
    # 16 packed sums + the token count: map-side partial aggregation
    # keeps the shuffle at one 17-column row per doc.
    sums = [
        F.sum(F.col("cnt") * F.col(f"p{p}")).alias(f"s{p}") for p in range(16)
    ] + [F.sum("cnt").alias("n")]
    agg = joined.groupBy(id_col).agg(*sums)
    # one generated-SQL concat for the 64 unpacked bits (see the packs
    # note above — this loop was the larger half of the driver cost)
    bits_concat = F.expr(
        "concat(" + ", ".join(
            f"CAST(CAST((shiftright(s{j // 4},"
            f" {_SIMHASH_LANE_BITS * (j % 4)}) % {_SIMHASH_LANE})"
            f" * 2 > n AS INT) AS STRING)"
            for j in range(64)
        ) + ")"
    )
    # Loud failure, never silent corruption: a document at or past the
    # lane bound would carry into the adjacent bit counter, so refuse it
    # at execution time (the replaced 64-column formulation had no such
    # bound; callers hitting this must chunk upstream).
    guard = F.when(
        F.col("n") < _SIMHASH_LANE, bits_concat
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"simhash: document token count exceeds {_SIMHASH_LANE - 1} "
                    "(packed-lane bound); chunk upstream with "
                    "chunk_documents() — doc id "
                ),
                F.col(id_col).cast("string"),
            )
        )
    )
    per_doc = agg.select(F.col(id_col), guard.alias("simhash"))
    return per_doc


def _simhash_chunk_rows(
    sims: DataFrame, id_col: str = "doc_id", n_chunks: int = 4
) -> DataFrame:
    """(id, c, key): the ``n_chunks`` × (64/n_chunks)-bit chunk-blocking
    rows of a 64-char '0'/'1' ``simhash`` column — shared by the
    one-shot pair join and the incremental hamming index (same blocking
    ⇒ same candidates). Pigeonhole: a pair within hamming <
    ``n_chunks`` MUST share an identical chunk, so recall is GUARANTEED
    up to ``n_chunks − 1`` and probabilistic above; more chunks buy
    guarantee at the cost of shorter (hotter) bucket keys."""
    if 64 % n_chunks != 0 or not 2 <= n_chunks <= 16:
        raise ValueError(
            f"n_chunks must divide 64 and lie in [2, 16], got {n_chunks}"
        )
    width = 64 // n_chunks
    return sims.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("c"),
                    F.substring("simhash", 1 + width * c, width).alias("key"),
                )
                for c in range(n_chunks)
            ])
        ).alias("ck"),
    ).select(F.col(id_col), F.col("ck.c").alias("c"), F.col("ck.key").alias("key"))


def _packed_simhash_words(sims: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, w1, w2): the simhash packed into two longs for XOR+bit_count
    hamming."""
    return sims.select(
        F.col(id_col),
        F.conv(F.substring("simhash", 1, 32), 2, 10).cast("long").alias("w1"),
        F.conv(F.substring("simhash", 33, 32), 2, 10).cast("long").alias("w2"),
    )


def simhash_pairs(
    sims: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 6,
    n_chunks: int = 4,
    caches: list | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``,
    blocked on ``n_chunks`` equal bit chunks (default 4 × 16 bits — a
    pair within hamming ≤ 3 per pigeonhole shares a chunk; with 6 we
    still block, trading recall for candidate-set size as real simhash
    dedup does). Raise ``n_chunks`` to 8 to GUARANTEE recall up to
    hamming 7 — each chunk key shrinks to 8 bits, so buckets get
    hotter; the knob is the simhash analogue of LSH band width /
    IVF probes. Returns (id_a, id_b, hamming).

    ``sims`` feeds two consumers (the chunk-blocking rows and the
    packed-word re-attach), so it is persisted here; pass ``caches``
    (a list) to receive the handle for explicit unpersist — the
    module's cache-lifecycle contract (r16: callers that neither pass
    ``caches`` nor clear the catalog accumulate one pinned relation
    per call)."""
    sims = sims.persist()
    if caches is not None:
        caches.append(sims)
    chunks = _simhash_chunk_rows(sims, id_col, n_chunks)
    a = chunks.select(F.col(id_col).alias("id_a"), "c", "key")
    b = chunks.select(F.col(id_col).alias("id_b"), "c", "key")
    # distinct over bare id pairs (cheap), then re-attach the 64-char
    # signatures from the small per-doc relation via broadcast — keeps
    # the wide strings out of the shuffle
    cand = (
        a.join(b, ["c", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # pack the 64-bit string into two longs once per doc; hamming per
    # candidate pair is then two XOR+bit_count ops instead of 64
    # substring compares
    packed = _packed_simhash_words(sims, id_col)
    sa = packed.select(
        F.col(id_col).alias("id_a"), F.col("w1").alias("a1"), F.col("w2").alias("a2")
    )
    sb = packed.select(
        F.col(id_col).alias("id_b"), F.col("w1").alias("b1"), F.col("w2").alias("b2")
    )
    # NO broadcast hint here: sa/sb are O(corpus) (one row per doc) —
    # forcing a broadcast would OOM the driver at real scale. Plain
    # equi-joins; AQE turns them into broadcasts when they actually fit.
    cand = cand.join(sa, "id_a").join(sb, "id_b")
    ham = F.expr("bit_count(a1 ^ b1) + bit_count(a2 ^ b2)").cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def incremental_hamming_dedup(
    new_hashed: DataFrame,
    store_dir: str,
    batch_id: int,
    *,
    id_col: str = "doc_id",
    max_hamming: int = 6,
    n_chunks: int = 4,
    algo: str | None = None,
) -> DataFrame:
    """Modality-agnostic incremental near-dup gate over 64-bit hashes:
    an arriving batch of ``(id, simhash)`` rows — text SimHash
    (:func:`simhash_bits`) or image aHash
    (``multimodal.perceptual_hash_images``), the column contract is the
    same — is flagged against the persisted hash index of every EARLIER
    batch and then appended to it. ONE index engine serves both
    modalities, the same way ``simhash_pairs`` verifies both one-shot.
    The batch-stamped contract is the shared one in
    :mod:`operators._store_step`.

    The index is ``store_dir/hashes`` (one 64-char hash row per item —
    tiny: the index for a billion images is ~70 GB of strings).
    Candidates share one of the ``n_chunks`` chunk blocks; hamming is
    verified with packed XOR + bit_count on candidates only; each new
    item keeps its best earlier match (min hamming, ties to the
    smallest id) as (id, dup_of, hamming). The union of flags over
    in-order batches ≡ the one-shot :func:`simhash_pairs` derivation
    (pytest-pinned).

    ``n_chunks`` is the recall-guarantee knob (see
    :func:`_simhash_chunk_rows`): the store holds RAW 64-bit hashes and
    blocking is derived per call, so the knob can be raised for later
    batches without rebuilding anything — a batch processed at
    ``n_chunks=8`` is guaranteed to catch every earlier item within
    hamming 7, whatever blocking earlier batches used.

    ``algo`` (r8) stamps the HASHER era the batch's bits came from
    (e.g. ``multimodal.AUDIO_FP_ALGO``) — the store is modality- and
    hasher-agnostic, so it cannot detect that an upstream bit-rule
    change made stored and arriving hashes incomparable (same content,
    different bits, near-dups silently missed); the stamp refuses the
    mix instead (:func:`check_store_algo`). ``curate_corpus`` and the
    streaming runner always stamp; direct callers that skip it keep
    the unstamped contract and own the era risk."""
    return run_store_step(
        new_hashed.sparkSession,
        _hamming_family(
            new_hashed, id_col=id_col, max_hamming=max_hamming,
            n_chunks=n_chunks, algo=algo,
        ),
        store_dir,
        batch_id,
    )


def _hamming_family(
    new_hashed: DataFrame,
    *,
    id_col: str = "doc_id",
    max_hamming: int = 6,
    n_chunks: int = 4,
    algo: str | None = None,
) -> StoreFamily:
    def chunks(hashes: DataFrame, side: str) -> DataFrame:
        return _simhash_chunk_rows(hashes, id_col, n_chunks).select(
            F.col(id_col).alias(side), "c", "key"
        )

    def featurize(pin) -> StoreBatch:
        hashes_new = pin(new_hashed.select(F.col(id_col), "simhash"))
        return StoreBatch(
            index=(hashes_new,),
            base=hashes_new,
            a=chunks(hashes_new, "id_a"),
            b=chunks(hashes_new, "id_b"),
        )

    def verify(cand: DataFrame, hashes: DataFrame) -> DataFrame:
        packed = _packed_simhash_words(hashes, id_col)
        sa = packed.select(
            F.col(id_col).alias("id_a"), F.col("w1").alias("a1"), F.col("w2").alias("a2")
        )
        sb = packed.select(
            F.col(id_col).alias("id_b"), F.col("w1").alias("b1"), F.col("w2").alias("b2")
        )
        ham = F.expr("bit_count(a1 ^ b1) + bit_count(a2 ^ b2)").cast("int")
        return (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
        )

    return StoreFamily(
        id_col=id_col,
        tables=("hashes",),
        base_table="hashes",
        keys=("c", "key"),
        featurize=featurize,
        earlier_keys=lambda e: chunks(e, "id_a"),
        verify=verify,
        score="hamming",
        descending=False,
        match_col="dup_of",
        algo=algo,
    )


# ------------------------------------------------------------- winnowing


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 5,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    widen: bool = True,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS local-fingerprinting algorithm): hash every k-gram,
    slide a window over ``window`` consecutive k-gram hashes, and keep
    each window's MINIMUM hash. The guarantee that motivates winnowing
    over plain 1-in-p hash sampling: any match of at least
    ``window + k − 1`` tokens is CAUGHT (every such span contains a
    full window, whose min is selected on both sides), while the
    selected density stays ~2/(window+1) — position-robust
    fingerprints that survive the insert/reorder edits that break
    whole-document content hashes.

    Returns (id, fp) — the DISTINCT selected 52-bit hashes per doc
    (hash = first 13 md5 hex digits of the k-gram, engine-identical
    and exact in a long, the repo's standard md5-fraction trick).
    Docs with fewer than ``k + window − 1`` tokens emit their k-gram
    hashes directly when they have ≥ k tokens (degenerate single
    window), none below k.

    Execution shape: pure per-row array math pipelined into the scan —
    k-gram hashing, the sliding min, and the distinct all happen inside
    the row (``transform``/``array_min``/``slice``); the only shuffle
    anywhere downstream is whatever the CONSUMER does with the
    exploded (id, fp) rows. ``widen=False`` for derived inputs (the
    widen_if_narrow contract). ``toks``: a pre-tokenized
    :func:`tokenized_docs` frame replaces the scan+tokenize (the
    ``size >= k`` filter below drops exactly the rows tokenizing a
    NULL text would drop, so the hook is value-identical)."""
    toked = (
        toks
        if toks is not None
        else (widen_if_narrow(df, id_col) if widen else df).select(
            F.col(id_col), tokens(text_col).alias("_ws")
        )
    )
    grams = kgrams_from_tokens(F.col("_ws"), k)
    # the hash array is MATERIALIZED as a column before the window
    # pass: interpreted higher-order functions are not memoized, so
    # referencing the hash-transform expression inside the sliding-min
    # lambda would re-evaluate every md5 once per window (O(m²) md5s
    # per long document instead of O(m))
    hashed = toked.filter(F.size("_ws") >= k).select(
        F.col(id_col),
        F.transform(
            grams,
            lambda g: F.conv(F.substring(F.md5(g), 1, 13), 16, 10).cast("long"),
        ).alias("_h"),
    )
    m = F.size("_h")
    mins = F.transform(
        F.sequence(F.lit(1), m - window + 1),
        lambda i: F.array_min(F.slice("_h", i, window)),
    )
    fps = F.when(m >= window, mins).otherwise(F.col("_h"))
    return hashed.select(
        F.col(id_col), F.explode(F.array_distinct(fps)).alias("fp")
    )


def winnowing_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-dup / partial-overlap candidate pairs from winnowing
    fingerprints: documents sharing ≥ ``min_shared`` selected
    fingerprints, via the same inverted-index join shape as
    :func:`jaccard_pairs` (cost bounded by postings collisions, never
    corpus²; ``max_doc_freq`` drops boilerplate fingerprints that
    appear in more than N docs — the stop-shingle guard). Returns
    (id_a, id_b, shared). Winnowing's guarantee makes this the
    PARTIAL-overlap detector: a shared span of ≥ window+k−1 tokens
    yields ≥ 1 shared fingerprint however the surrounding text
    differs, which whole-doc Jaccard dilutes away — which is why the
    default is ``min_shared=1`` (the minimal guaranteed match IS one
    fingerprint); raise it only as a noise/precision knob, accepting
    that single-span overlaps then go unreported."""
    fps = fps.persist()
    postings = fps
    if max_doc_freq is not None:
        w = Window.partitionBy("fp")
        postings = (
            fps.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    a = postings.select(F.col(id_col).alias("id_a"), "fp")
    b = postings.select(F.col(id_col).alias("id_b"), "fp")
    out = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return out


def incremental_winnowing_dedup(
    new_docs: DataFrame,
    store_dir: str,
    batch_id: int,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = 8,
    widen: bool = True,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Partial-overlap detection for an ARRIVING batch against every
    previously seen document — the winnowing member of the incremental
    store family (minhash = whole-doc sets, hamming = simhash/aHash/
    audio fingerprints, IVF = dense vectors; this one catches a copied
    SPAN of ≥ window+k−1 tokens embedded in otherwise-new text, which
    none of the others can). The batch-stamped contract is the shared
    one in :mod:`operators._store_step`; this store also refuses a
    decreasing batch id (``check_store_batch_monotonic``) and stamps
    its (k, window) era.

    ``widen=False`` for derived (non-scan) batch inputs — the
    widen_if_narrow caller contract. ``broadcast_batch=False`` when the
    "batch" is not micro-batch-sized (e.g. a whole curation run passed
    through the store): the forced broadcast of the batch postings is
    the right plan ONLY under the streaming contract's structurally
    small batches; with it off, AQE picks the join strategy.

    The index is ``store_dir/fps`` (id, fp — the winnowing
    fingerprints). Candidates share a fingerprint; verify is the
    shared-fingerprint count over latest-version postings, with the
    boilerplate ``max_doc_freq`` guard computed over those same
    postings (every earlier holder of a batch fingerprint is a
    candidate, so the per-batch document frequency is the true
    as-of-arrival frequency, not a sample); each new doc keeps its best
    earlier overlap (max shared, ties to the smallest id) as (id,
    overlap_of, shared). With ``max_doc_freq=None`` the union of flags
    over in-order batches equals the one-shot :func:`winnowing_pairs`
    derivation oriented best-earlier-per-later (pytest-pinned). The df
    cap is as-of-arrival by construction — a fingerprint that only
    becomes boilerplate later cannot retroactively un-flag an earlier
    catch."""
    return run_store_step(
        new_docs.sparkSession,
        _winnowing_family(
            new_docs, text_col=text_col, id_col=id_col, k=k, window=window,
            min_shared=min_shared, max_doc_freq=max_doc_freq, widen=widen,
            broadcast_batch=broadcast_batch,
        ),
        store_dir,
        batch_id,
    )


def _winnowing_family(
    new_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = 8,
    widen: bool = True,
    broadcast_batch: bool = True,
) -> StoreFamily:
    def cap(fps: DataFrame) -> DataFrame:
        if max_doc_freq is None:
            return fps
        return (
            fps.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )

    def featurize(pin) -> StoreBatch:
        fps_new = pin(winnowing_fingerprints(
            new_docs, k=k, window=window, text_col=text_col, id_col=id_col,
            widen=widen,
        ))
        # candidates come from fps pre-capped by the BATCH document
        # frequency: batch df lower-bounds the as-of-arrival df the
        # verify cap uses, so a pair sharing ONLY capped fps can never
        # reach min_shared — winnowing_pairs' stop-shingle bound on the
        # O(d²) blowup of a boilerplate span. Pinned: three consumers
        # (both within-batch sides and the store join).
        cand_fps = pin(cap(fps_new)) if max_doc_freq is not None else fps_new
        return StoreBatch(
            index=(fps_new,),
            base=fps_new,
            a=cand_fps.select(F.col(id_col).alias("id_a"), "fp"),
            b=cand_fps.select(F.col(id_col).alias("id_b"), "fp"),
        )

    def verify(cand: DataFrame, fps: DataFrame) -> DataFrame:
        fps = cap(fps)
        return (
            cand.join(fps.select(F.col(id_col).alias("id_a"), "fp"), "id_a")
            .join(fps.select(F.col(id_col).alias("id_b"), "fp"), ["id_b", "fp"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared"))
            .filter(F.col("shared") >= min_shared)
        )

    return StoreFamily(
        id_col=id_col,
        tables=("fps",),
        base_table="fps",
        keys=("fp",),
        featurize=featurize,
        earlier_keys=lambda e: e.select(F.col(id_col).alias("id_a"), "fp"),
        verify=verify,
        score="shared",
        descending=True,
        match_col="overlap_of",
        algo=f"winnow/k={k}/window={window}",
        monotonic=True,
        broadcast_batch=broadcast_batch,
    )


#: Lee et al. 2022's production operating point: ExactSubstr removes
#: duplicated substrings of >= 50 TOKENS, and k is this pass's
#: detection quantum, so ``k=EXACT_SUBSTR_PAPER_K`` reproduces the
#: paper's threshold on a real corpus. Gram width changes posting-list
#: density materially (wider grams -> near-unique postings, smaller
#: duplicated set, same linear plan), so the 10x scale gate probes BOTH
#: the fixture-sized default (k=5, which keeps the planted pytests
#: readable) and this preset (bench.py --scale10, dedup_xdup_k50).
EXACT_SUBSTR_PAPER_K = 50


def duplicated_spans(
    df: DataFrame,
    k: int = 5,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    toks: DataFrame | None = None,
    widen: bool = True,
    caches: list | None = None,
) -> DataFrame:
    """ExactSubstr-style duplicated-SPAN detection at k-gram
    granularity (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better" — their suffix-array ExactSubstr pass,
    re-expressed Spark-first): find, per document, the maximal token
    spans whose every k-gram appears at least ``min_count`` times in
    the corpus (instances, INCLUDING repeats inside one document — the
    suffix-array semantics), i.e. the verbatim boilerplate/license/
    quotation runs that document-level (MinHash) and chunk-level
    (aligned/CDC) dedup both miss when they sit inside otherwise-unique
    documents. Returns one row per maximal span:

    (id, span_start, span_end, n_tokens, span_text)

    with token positions 0-based and ``span_end`` exclusive
    (``n_tokens = span_end - span_start``); a position is covered iff
    some duplicated k-gram starts within [pos-k+1, pos], and each row
    is a MAXIMAL contiguous covered region: duplicated k-gram starts
    chain into one span whenever their coverage windows touch or
    overlap (``next_start <= prev_start + k`` — gaps-and-islands on
    coverage adjacency, not just start adjacency), so a duplicated run
    of L tokens surfaces as ONE row with n_tokens = L, never as
    overlapping fragments, and ``n_tokens`` sums to the covered-token
    total with no double counting. Spans shorter than k cannot exist
    (the k-gram is the detection quantum — the standard ExactSubstr
    length floor).

    Why not a distributed suffix array: the paper's exact structure
    needs global suffix ORDER, which shuffles the corpus text itself;
    at k-gram granularity the same spans fall out of an inverted-index
    shape the engine already scales — one PERSISTED posexplode of
    (pos, gram) feeding both consumers (the frequency aggregate and
    the position semi-join — un-persisted, each would rescan and
    re-tokenize the corpus; ``caches=`` receives the handle, the
    dedup_ngram_jaccard lifecycle pattern), ONE map-side-combined
    groupBy(gram) (output bounded by distinct grams), one semi-join
    of positions against the duplicated-gram set, one per-doc window
    for the island merge. No all-pairs
    anywhere; cost is linear in corpus tokens + duplicated positions.
    The granularity trade: a duplicated span is detected iff it is at
    least k tokens long (below k, nothing; the paper's 50-token
    threshold maps to k=50 here).

    ``toks=`` threads a shared :func:`tokenized_docs` relation (the
    multi-leg caller pattern); ``min_count`` ≥ 2 counts INSTANCES so a
    doc repeating its own boilerplate twice self-flags, exactly as a
    suffix array would."""
    if k < 1:
        raise ValueError(f"duplicated_spans: k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(
            f"duplicated_spans: min_count must be >= 2, got {min_count}"
        )
    base = (
        toks
        if toks is not None
        else tokenized_docs(df, text_col, id_col, widen=widen)
    )
    # the positional-gram relation feeds BOTH the frequency aggregate
    # and the position semi-join (and base is re-read for span_text) —
    # persist so the corpus is scanned and tokenized once per call,
    # not once per consumer (the dedup_ngram_jaccard toked pattern:
    # pass ``caches`` to receive the handle for explicit unpersist; a
    # bench/driver caller relies on its clearCache between queries)
    grams = base.select(
        F.col(id_col),
        F.posexplode(kgrams_from_tokens(F.col("_ws"), k)).alias(
            "pos", "_gram"
        ),
    ).persist()
    if caches is not None:
        caches.append(grams)
    dup = (
        grams.groupBy("_gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_gram")
    )
    hits = grams.join(dup, "_gram").select(id_col, "pos")
    # island merge on COVERAGE adjacency: a start within k of the
    # previous one has a touching/overlapping [pos, pos+k) window, so
    # it extends the same maximal span (lag-flag + running sum — one
    # Exchange, both window functions share the per-doc sort). A plain
    # pos - row_number() island would split such starts into
    # overlapping rows and double-count their covered tokens.
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
        F.lit(1)  # first row per doc: lag is NULL -> new island
    )
    spans = (
        hits.withColumn("_brk", brk)
        .withColumn("_isl", F.sum("_brk").over(w))
        .groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(k)).cast("long").alias("span_end"),
        )
        .drop("_isl")
    )
    return spans.join(base, id_col).select(
        F.col(id_col),
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start")).alias("n_tokens"),
        F.concat_ws(
            " ",
            F.slice(
                "_ws",
                F.col("span_start") + 1,
                F.col("span_end") - F.col("span_start"),
            ),
        ).alias("span_text"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    k: int = 5,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    spans: DataFrame | None = None,
    toks: DataFrame | None = None,
    widen: bool = True,
    caches: list | None = None,
) -> DataFrame:
    """The removal half of the ExactSubstr pass (Lee et al. 2022 cut
    the detected duplicated substrings OUT of the corpus — detection
    alone is :func:`duplicated_spans`): returns

    (id, clean_text, n_kept, n_total)

    with ``clean_text`` the document's tokens OUTSIDE every duplicated
    span, reassembled in order (the chunk_level_dedup output shape, so
    downstream curation consumes either interchangeably); a fully
    duplicated document survives as an empty clean_text with
    n_kept = 0 — the caller decides whether to drop it (curation's
    convention). Output is a STRICT function of the spans relation
    (value-checked as text_mining_suite's 'xdup' leg) plus the
    tokenization — the r2 consolidation rule for what needs its own
    oracle row — and is pinned by the planted-corpus pytest instead.

    ``spans=`` accepts a precomputed :func:`duplicated_spans` result
    (the multi-leg reuse hook); ``toks=`` the shared tokenized base.
    Scale shape: one vocab-of-spans groupBy (output ≤ one row per
    doc), one join onto the tokenized corpus, then a pure in-row
    sorted-boundary walk — sort the doc's spans, fold overlapping or
    touching ones together (robust to arbitrary user-supplied
    ``spans=``; :func:`duplicated_spans` output is already disjoint),
    and keep the gap slices BETWEEN them. Per-document cost is
    O(tokens + spans), not the O(tokens × spans) a per-token
    contains-check would pay on boilerplate-heavy documents; no new
    exchanges beyond the span aggregation."""
    base = (
        toks
        if toks is not None
        else tokenized_docs(df, text_col, id_col, widen=widen)
    )
    sp = (
        spans
        if spans is not None
        else duplicated_spans(
            df, k, min_count, text_col, id_col, toks=base, caches=caches
        )
    )
    agg = sp.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    joined = base.join(agg, id_col, "left")
    empty = F.array().cast(
        "array<struct<span_start:bigint,span_end:bigint>>"
    )
    spans_c = F.coalesce(F.col("_spans"), empty)
    n = F.size("_ws").cast("long")
    # sorted-boundary walk, all in-row: (1) sort spans by start (struct
    # order: span_start, then span_end), (2) fold touching/overlapping
    # neighbors into disjoint runs — span count per doc is bounded by
    # doc length, and duplicated_spans already emits disjoint maximal
    # spans, so the fold is a cheap no-op pass in the normal path —
    # then (3) keep the gap slices between the runs (clamped to [0,n]):
    # segment i of m+1 spans [prev_end_i, next_start_i). O(tokens+spans)
    # per doc vs the O(tokens x spans) of a per-token contains-check.
    # The fold and the gap walk are HOISTED into their own projections
    # (withColumn) and the lambdas reference the materialized columns:
    # expressions INSIDE higher-order-function lambdas get no
    # common-subexpression elimination, so inlining `merged` would
    # re-evaluate the whole fold once per gap element (O(spans^3) per
    # row instead of one fold + one walk).
    merged = F.aggregate(
        F.array_sort(spans_c),
        empty,
        lambda acc, s: F.when(
            (F.size(acc) == F.lit(0))
            | (s["span_start"] > F.element_at(acc, -1)["span_end"]),
            F.concat(acc, F.array(s)),
        ).otherwise(
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["span_start"].alias(
                            "span_start"
                        ),
                        F.greatest(
                            F.element_at(acc, -1)["span_end"],
                            s["span_end"],
                        ).alias("span_end"),
                    )
                ),
            )
        ),
    )
    hoisted = joined.withColumn("_merged", merged)
    mcol = F.col("_merged")
    m = F.size(mcol)

    def _gap(i):  # kept segment between merged run i-1 and run i
        lo = F.when(i == F.lit(0), F.lit(0).cast("long")).otherwise(
            F.element_at(mcol, i.cast("int"))["span_end"]
        )
        hi = F.when(i == m.cast("long"), n).otherwise(
            F.element_at(mcol, i.cast("int") + 1)["span_start"]
        )
        # clamp: user-supplied spans may run past either end of the doc
        lo_c = F.greatest(F.lit(0).cast("long"), F.least(lo, n))
        hi_c = F.greatest(F.lit(0).cast("long"), F.least(hi, n))
        return F.slice(
            "_ws",
            (lo_c + 1).cast("int"),
            F.greatest(F.lit(0).cast("long"), hi_c - lo_c).cast("int"),
        )

    kept = F.flatten(
        F.transform(F.sequence(F.lit(0).cast("long"), m.cast("long")), _gap)
    )
    return hoisted.withColumn("_kept", kept).select(
        F.col(id_col),
        F.concat_ws(" ", F.col("_kept")).alias("clean_text"),
        F.size("_kept").cast("long").alias("n_kept"),
        F.size("_ws").cast("long").alias("n_total"),
    )
