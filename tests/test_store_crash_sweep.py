"""Crash-point sweep for the durable store writes.

A fault-injection harness counts every ``DataFrameWriter.parquet`` call
and every ``warehouse._HadoopFs`` rename/delete/touch, and raises in
place of step N. For every N it crashes one run, re-runs the crashed
operation and everything after it, and checks that the store ends
byte-for-row equal to the no-crash run — the exactly-once argument of
an idempotent sink plus replay, checked at every crash point instead
of hand-picked ones. The four incremental stores run 3 batches plus a
redelivered one; ``compact_partitions`` and ``retrain_ivf_store`` run
their swap. After every recovery no relation may be left persisted.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from crypto_data_pipeline_with_kafka_spark.catalog import load_table
from tests.conftest import SF_SMOKE as SF


class _Crash(RuntimeError):
    pass


@contextmanager
def crash_at(n: int | None):
    """Count durable write steps; raise :class:`_Crash` in place of
    step ``n`` (1-based; ``None`` only counts). Yields the counter."""
    from pyspark.sql.readwriter import DataFrameWriter

    from crypto_data_pipeline_with_kafka_spark.warehouse import _HadoopFs

    count = {"steps": 0}
    patched = [
        (DataFrameWriter, "parquet"),
        (_HadoopFs, "rename"),
        (_HadoopFs, "delete"),
        (_HadoopFs, "touch"),
    ]
    originals = [getattr(owner, name) for owner, name in patched]

    def counted(name, orig):
        def step(*args, **kwargs):
            count["steps"] += 1
            if count["steps"] == n:
                raise _Crash(f"injected crash at step {n} ({name})")
            return orig(*args, **kwargs)

        return step

    for (owner, name), orig in zip(patched, originals):
        setattr(owner, name, counted(name, orig))
    try:
        yield count
    finally:
        for (owner, name), orig in zip(patched, originals):
            setattr(owner, name, orig)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _snapshot(spark, root: str) -> dict:
    """Every table under ``root`` as sorted row reprs, plus the root
    listing (so a leaked hidden dir shows up as a difference)."""
    names = sorted(os.listdir(root))
    tables = {}
    for name in names:
        if name.startswith((".", "_")):
            continue
        df = spark.read.parquet(f"{root}/{name}")
        df = df.select(*sorted(df.columns))
        tables[name] = sorted(repr(tuple(r)) for r in df.collect())
    return {"listing": names, "tables": tables}


def _best(rows, key_a: str, score: str, higher: bool, digits: int | None):
    """{id_b: (id_a, score)} — the best earlier partner per later id."""
    best = {}
    for r in rows:
        s = r[score] if digits is None else round(r[score], digits)
        rank = (-s if higher else s, r[key_a])
        if r["id_b"] not in best or rank < best[r["id_b"]][0]:
            best[r["id_b"]] = (rank, (r[key_a], s))
    return {b: v for b, (_, v) in best.items()}


def _store_case(spark, tmp_path, family: str):
    """(step(frame, store, batch_id), batches, expected flags, flag
    reader) for one store family over a 240-row slice."""
    from crypto_data_pipeline_with_kafka_spark.operators import dedup
    from crypto_data_pipeline_with_kafka_spark.operators import similarity as sim

    cuts = [0, 80, 160, 240]
    if family == "ivf":
        rows = load_table(spark, SF, "embeddings").filter("vec_id < 240")
        base = sim._ensure_ann_base(rows, "vec_id")
        cents = sim._seed_centroids(base, 8, "vec_id").localCheckpoint()
        assigns = sim.ivf_assignments(base, probes=1, vec_col="vdbl", centroids=cents)
        pairs = sim.ivf_ann_pairs(base, probes=1, min_cosine=0.2, assignments=assigns)
        expected = _best(pairs.collect(), "id_a", "cosine", True, 9)

        def step(df, store, b):
            return sim.incremental_ivf_update(
                df, store, b, centroids=cents if b == 0 else None, min_cosine=0.2
            )

        id_col, match, score, digits = "vec_id", "match_id", "cosine", 9
    else:
        rows = load_table(spark, SF, "documents").filter("doc_id < 240").select(
            "doc_id", "text"
        )
        id_col, match, digits = "doc_id", "dup_of", None
        if family == "minhash":
            expected = _best(dedup.minhash_lsh_dedup(rows).collect(), "id_a",
                             "jaccard", True, 12)
            step, score, digits = dedup.incremental_minhash_dedup, "jaccard", 12
        elif family == "hamming":
            # hashed once, through parquet: the sweep then starts with
            # nothing persisted
            hashed_path = str(tmp_path / "hashed")
            dedup.simhash_bits(rows).write.parquet(hashed_path)
            rows = spark.read.parquet(hashed_path)
            expected = _best(dedup.simhash_pairs(rows).collect(), "id_a",
                             "hamming", False, None)

            def step(df, store, b):
                return dedup.incremental_hamming_dedup(
                    df, store, b, algo="text/simhash-64/v1"
                )

            score = "hamming"
        else:
            pairs = dedup.winnowing_pairs(
                dedup.winnowing_fingerprints(rows), min_shared=2,
                max_doc_freq=None,
            )
            expected = _best(pairs.collect(), "id_a", "shared", True, None)

            def step(df, store, b):
                return dedup.incremental_winnowing_dedup(
                    df, store, b, max_doc_freq=None
                )

            match, score = "overlap_of", "shared"
    batches = [
        (rows.filter((F.col(id_col) >= lo) & (F.col(id_col) < hi)), b)
        for b, (lo, hi) in enumerate(zip(cuts, cuts[1:]))
    ]
    batches.append(batches[-1])  # redelivery of the newest batch

    def flags(store):
        return {
            r[id_col]: (r[match], r[score] if digits is None else round(r[score], digits))
            for r in spark.read.parquet(f"{store}/flagged").collect()
        }

    return step, batches, expected, flags


def _sweep(spark, tmp_path, run, prepare=None, after_crash=None):
    """Crash ``run(resume_from)`` at every step. ``run`` returns normally
    or raises :class:`_Crash` out of the operation it was in, and takes
    the operation index to resume from; ``prepare(root)`` builds a
    fresh input state under ``root``; ``after_crash(root, want)`` checks
    the crashed state before the re-run."""
    ref = str(tmp_path / "ref")
    if prepare is not None:
        prepare(ref)
    with crash_at(None) as count:
        run(ref, 0)
    total = count["steps"]
    assert total > 0
    want = _snapshot(spark, ref)
    for n in range(1, total + 1):
        root = str(tmp_path / f"crash_{n}")
        if prepare is not None:
            prepare(root)
        progress = {"op": 0}
        with crash_at(n), pytest.raises(_Crash):
            run(root, 0, progress)
        if after_crash is not None:
            after_crash(root, want)
        run(root, progress["op"])
        assert _snapshot(spark, root) == want, f"crash at step {n}"
        assert _cache_empty(spark), f"relations left persisted after step {n}"
        shutil.rmtree(root)
    return ref


@pytest.mark.parametrize("family", ["minhash", "hamming", "winnow", "ivf"])
def test_store_crash_sweep(spark, tmp_path, family):
    """Every crash point of 3 batches + 1 redelivered batch: re-running
    the crashed batch and the ones after it leaves the store and its
    flags equal to the no-crash run, and the flags equal the family's
    one-shot operator."""
    step, batches, expected, flags = _store_case(spark, tmp_path, family)
    spark.catalog.clearCache()

    def run(store, start, progress=None):
        for i in range(start, len(batches)):
            if progress is not None:
                progress["op"] = i
            df, b = batches[i]
            step(df, store, b)

    ref = _sweep(spark, tmp_path, run)
    assert flags(ref) == expected and expected


def test_store_step_releases_pins_on_failure(spark, tmp_path):
    """A store write that fails leaves no relation persisted: every
    store releases its intermediates in a ``finally``."""
    from crypto_data_pipeline_with_kafka_spark.operators import similarity as sim
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_hamming_dedup,
        incremental_minhash_dedup,
        incremental_winnowing_dedup,
        simhash_bits,
    )

    docs = load_table(spark, SF, "documents").filter("doc_id < 60")
    hashed_path = str(tmp_path / "hashed")
    simhash_bits(docs).write.parquet(hashed_path)
    hashed = spark.read.parquet(hashed_path)
    emb = load_table(spark, SF, "embeddings").filter("vec_id < 60")
    cents = sim._seed_centroids(
        emb.select("vec_id", sim.dbl_vector("embedding").alias("vdbl")), 4, "vec_id"
    ).localCheckpoint()
    steps = {
        "minhash": (docs.filter("doc_id < 30"), docs, incremental_minhash_dedup, {}),
        "hamming": (hashed.filter("doc_id < 30"), hashed, incremental_hamming_dedup, {}),
        "winnow": (docs.filter("doc_id < 30"), docs, incremental_winnowing_dedup, {}),
        "ivf": (emb.filter("vec_id < 30"), emb, sim.incremental_ivf_update,
                {"centroids": cents}),
    }
    for family, (first, rows, step, first_kwargs) in steps.items():
        store = str(tmp_path / family)
        step(first, store, 0, **first_kwargs)
        spark.catalog.clearCache()
        # batch 1 writes its flags (step 1), then fails on its first
        # index-table write (step 2)
        with crash_at(2), pytest.raises(_Crash):
            step(rows, store, 1)
        assert _cache_empty(spark), family


def test_compact_partitions_crash_sweep(spark, tmp_path):
    """Every crash point of a two-partition compaction: the next run
    restores and finishes it — same rows, one file per partition, no
    staged or backup dir left."""
    from crypto_data_pipeline_with_kafka_spark.warehouse import compact_partitions

    src = str(tmp_path / "src")
    events = (
        load_table(spark, SF, "events")
        .limit(400)
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
    )
    two = [r.dt for r in events.select("dt").distinct().orderBy("dt").limit(2).collect()]
    for i in range(3):
        events.filter(F.col("dt").isin(two) & (F.col("event_id") % 3 == i)).coalesce(
            1
        ).write.mode("append").partitionBy("dt").parquet(src)
    spark.catalog.clearCache()

    ref = _sweep(
        spark,
        tmp_path,
        lambda root, start, progress=None: compact_partitions(spark, root),
        prepare=lambda root: shutil.copytree(src, root),
    )
    for dt in two:
        files = [f for f in os.listdir(f"{ref}/dt={dt}") if f.endswith(".parquet")]
        assert len(files) == 1


def test_retrain_ivf_store_crash_sweep(spark, tmp_path):
    """Every crash point of the two-directory retrain swap: recovery
    alone leaves the old or the new geometry on BOTH tables, never a
    mix, and re-running retrain_ivf_store lands the same geometry and
    cells as the no-crash retrain, with no .retrain dir left."""
    from crypto_data_pipeline_with_kafka_spark.operators import similarity as sim

    emb = load_table(spark, SF, "embeddings").filter("vec_id < 200")
    tiny = sim._seed_centroids(
        emb.select("vec_id", sim.dbl_vector("embedding").alias("vdbl")), 2, "vec_id"
    ).localCheckpoint()
    src = str(tmp_path / "src")
    sim.incremental_ivf_update(emb.filter("vec_id < 100"), src, 0, centroids=tiny)
    sim.incremental_ivf_update(emb.filter("vec_id >= 100"), src, 1)
    spark.catalog.clearCache()
    before = _snapshot(spark, src)

    def recovered_whole(root, after):
        sim.recover_ivf_store(spark, root)
        assert _snapshot(spark, root) in (before, after)

    ref = _sweep(
        spark,
        tmp_path,
        lambda root, start, progress=None: sim.retrain_ivf_store(
            spark, root, num_centroids=8
        ),
        prepare=lambda root: shutil.copytree(src, root),
        after_crash=recovered_whole,
    )
    assert spark.read.parquet(f"{ref}/centroids").count() == 8
