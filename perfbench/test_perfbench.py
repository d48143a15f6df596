"""Tests of the benchmark's own helpers. Run from the root of a checkout:

    python3 -m pytest perfbench/test_perfbench.py -q

``testdata/eventlog.jsonl`` and ``testdata/spans.json`` were recorded
together from a ``local[2]`` session: one job before any span, then an
op whose plan build sleeps, runs an eager job from a separate thread
(as the engine's pin pools do, with no job group) and sleeps again,
followed by an action of two jobs.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans  # noqa: E402
from spans import Span  # noqa: E402


def _recorded() -> tuple[list[Span], list[spans.Job], dict]:
    with open(os.path.join(HERE, "testdata", "spans.json")) as f:
        recorded = [Span(**s) for s in json.load(f)]
    with open(os.path.join(HERE, "testdata", "eventlog.jsonl")) as f:
        jobs, stages = spans.parse_event_log(f)
    return recorded, jobs, stages


def test_union_length_merges_overlaps():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert spans.union_length([(3, 4), (0, 1), (1, 2)]) == pytest.approx(3.0)


def test_self_time_clips_and_unions_busy_intervals():
    # build span [10, 20]; jobs overlap each other and stick out of it
    busy = [(8, 11), (12, 15), (14, 16), (19, 25), (30, 31)]
    # covered: [10,11] + [12,16] + [19,20] = 6
    assert spans.self_time(10, 20, busy) == pytest.approx(4.0)
    assert spans.self_time(10, 20, []) == pytest.approx(10.0)
    assert spans.self_time(10, 20, [(0, 100)]) == pytest.approx(0.0)


def test_tail_percentile_leaves_ten_beyond():
    vals = [float(i) for i in range(1, 41)]  # 40 samples
    pct, val = spans.tail_percentile(vals)
    assert pct == pytest.approx(75.0)  # rank 30 of 40: ten samples above it
    assert val == 30.0
    assert sum(v > val for v in vals) == 10
    pct, val = spans.tail_percentile([float(i) for i in range(100)])
    assert (pct, val) == (90.0, 89.0)


def test_tail_percentile_omitted_when_not_above_median():
    assert spans.tail_percentile([1.0] * 20) is None  # rank 10 = median rank
    assert spans.tail_percentile([1.0] * 8) is None
    assert spans.tail_percentile([1.0] * 21) is None  # rank 11 of 21 is the median
    assert spans.tail_percentile([1.0] * 22) is not None


def test_growth_compares_last_third_to_first_third():
    assert spans.growth([1, 1, 1, 2, 2, 2]) == pytest.approx(2.0)
    assert spans.growth([2, 4]) == pytest.approx(2.0)
    assert spans.growth([5.0]) != spans.growth([5.0])  # NaN: no comparison


def test_jobs_attributed_by_time_interval_to_innermost_span():
    recorded, jobs, _ = _recorded()
    own = spans.attribute_jobs(recorded, jobs)
    by_name = {s.name: [j.id for j in own[s.id]] for s in recorded}
    # jobs 0 and 1 ran before the op, so no span owns them
    assert by_name == {"op.q": [], "plans.q.build": [2, 3, 4], "plans.q.action": [5, 6]}
    root = next(s for s in recorded if s.name == "op.q")
    assert spans.descendants(recorded, root.id) == {s.id for s in recorded}


def test_build_self_time_excludes_its_jobs():
    recorded, jobs, _ = _recorded()
    build = next(s for s in recorded if s.name == "plans.q.build")
    own = spans.attribute_jobs(recorded, jobs)[build.id]
    py_s = spans.self_time(build.start, build.end, [(j.submit, j.end) for j in own])
    # the build slept 0.6 s outside its jobs; the rest was the pin job
    assert 0.55 <= py_s < build.end - build.start
    assert py_s == pytest.approx(
        (build.end - build.start)
        - spans.union_length((max(j.submit, build.start), min(j.end, build.end)) for j in own)
    )


def test_event_log_task_metrics_summed_per_stage():
    _, jobs, stages = _recorded()
    with open(os.path.join(HERE, "testdata", "eventlog.jsonl")) as f:
        n_tasks = sum('"SparkListenerTaskEnd"' in line for line in f)
    assert sum(s.tasks for s in stages.values()) == n_tasks
    assert all(s.run_ms >= 0 and s.cpu_ns > 0 for s in stages.values())
    # the repartition job wrote and read back its shuffle
    shuffle = [s for s in stages.values() if s.shuffle_write > 0]
    assert shuffle and sum(s.shuffle_read for s in stages.values()) > 0
    assert [j.id for j in jobs] == sorted(j.id for j in jobs)


def test_benchmark_json_names_what_run_prints():
    import run

    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_digest_ignores_row_order_and_partitioning(spark):
    import checks

    df = spark.range(5000).selectExpr(
        "id",
        "cast(id % 13 as string) as s",
        "id / 7.0 as d",
        "array(id, id + 1) as a",
        "map('k', id) as m",
        "cast(null as int) as n",
    )
    base = checks.digest(df)
    assert base[0] == 5000
    assert checks.digest(df.repartition(7)) == base
    assert checks.digest(df.repartition(3, "s").sortWithinPartitions("d")) == base
    assert checks.digest(df.coalesce(1).orderBy("id", ascending=False)) == base
    # any changed value changes the digest
    assert checks.digest(df.selectExpr("id", "s", "d + 1e-9 as d", "a", "m", "n")) != base
