"""The benchmark's workloads and the calls into the engine they time.

Every call into an engine module's public functions sits inside a span
(``spans.Tracer``): ``session.get_spark``, ``catalog.load_tables``, each
registered query function (plan build) and its action, and the
``streaming.pipeline`` entry points. Only one op runs at a time.
"""

from __future__ import annotations

import os
import random
import sys
import threading
import time
import traceback
from dataclasses import dataclass

import pyarrow.parquet as pq

import checks
import datagen
from spans import Tracer

DASHBOARD_OPS = (
    "ind_pipeline",
    "agg_q1",
    "win_tumbling_candles",
    "win_sessionize",
    "rel_asof_join",
    "topk_per_group",
    "news_pipeline",
)

# name -> (scale, event keys). "bench" is the fixture layout at sf0.01
# sizes, read by dashboard_mix; "stream" holds the price backlog of
# ingest_stream and "small" (the sf0.001 layout) its warm-up backlog.
# All keep ~2.2 events per key per day.
# At sf0.01 the dashboard ops' latencies sit close together, so the
# median op is not at a gap between a fast and a slow group of queries
# (at sf0.1 agg_q1 and news_pipeline split off and the median flips).
DATASETS = {"bench": (0.1, 150), "stream": (0.2, 300), "small": (0.01, 15)}

# ingest_stream: time-ordered slices per backlog. One slice arrives last
# (late) and one earlier slice is delivered twice under a new file name.
STREAM_SLICES = {"stream": 4, "small": 2}
# Covers 13 prior events per key at ~2.2 events per key per day.
LOOKBACK_DAYS = 14


@dataclass
class Op:
    name: str
    latency_s: float
    ok: bool


class Bench:
    """State of one benchmark process: where it may write, its tracer
    and its seed."""

    def __init__(self, root: str, work: str, seed: int):
        self.root = root
        self.work = work
        self.rng = random.Random(seed)
        self.tracer = Tracer()
        self._ops = 0

    def data_dir(self, name: str) -> str:
        scale, users = DATASETS[name]
        return datagen.write_tables(
            os.path.join(self.root, ".perfbench", "data", f"{name}-{scale}-{users}"), scale, users
        )

    def next_op(self) -> int:
        self._ops += 1
        return self._ops

    def get_spark(self, extra_conf: dict[str, str] | None = None):
        from crypto_data_pipeline_with_kafka_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            ),
        }
        conf.update(extra_conf or {})
        with self.tracer.span("session.get_spark"):
            spark = get_spark(app_name="perfbench", extra_conf=conf)
            spark.range(1).collect()  # the first job starts the executor threads
        return spark


class ProgressLog:
    """Collects streaming progress per query through a
    ``StreamingQueryListener`` and lets the caller wait for a query's
    termination event, since listener events arrive asynchronously."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.progress: dict[str, list[dict]] = {}
        self.done: dict[str, threading.Event] = {}
        self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                log._event(str(event.id))

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    "add_ms": p.durationMs.get("addBatch", 0),
                    "has_batch": "addBatch" in p.durationMs,
                }
                with log._lock:
                    log.progress.setdefault(str(p.id), []).append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                log._event(str(event.id)).set()

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def _event(self, qid: str) -> threading.Event:
        with self._lock:
            return self.done.setdefault(qid, threading.Event())

    def queries(self) -> set[str]:
        with self._lock:
            return set(self.done)

    def batches(self, qid: str, timeout: float = 30.0) -> list[dict]:
        if not self._event(qid).wait(timeout):
            raise TimeoutError(f"no termination event for streaming query {qid}")
        with self._lock:
            recs = [r for r in self.progress.get(qid, []) if r["has_batch"]]
        return sorted(recs, key=lambda r: r["batch"])


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


class DashboardMix:
    """The Grafana read path: seven registered queries, each a plan
    build plus one full-column action, repeated in seed order."""

    name = "dashboard_mix"

    def __init__(self, bench: Bench):
        self.b = bench
        self.bench_dir = bench.data_dir("bench")
        self.expect = checks.load_expected()[self.name]

    drains = ()  # writes no stores

    def attach(self, spark) -> None:
        pass

    def run_op(self, spark, q: str) -> Op:
        from crypto_data_pipeline_with_kafka_spark.plans import registry

        fn = registry.queries()[q]
        expect = self.expect[q]
        t = self.b.tracer
        with t.span(f"op.{q}", op=self.b.next_op()) as s:
            try:
                with t.span(f"plans.{q}.build"):
                    df = fn(spark, self.bench_dir)
                with t.span(f"plans.{q}.action"):
                    got = checks.digest(df)
                ok = got == expect
                if not ok:
                    print(f"perfbench: {q} gave {got}, expected {expect}", file=sys.stderr)
            except Exception:
                _log_failure(q)
                ok = False
        return Op(q, s.end - s.start, ok)

    def warm(self, spark) -> list[Op]:
        # On the measured inputs: after a warm-up on the small tables the
        # first measured pass still ran 10-30% slower than the next one,
        # as the JIT compiled the paths that only larger inputs exercise.
        return [self.run_op(spark, q) for q in DASHBOARD_OPS]

    def load_catalog(self, spark) -> None:
        from crypto_data_pipeline_with_kafka_spark import catalog

        with self.b.tracer.span("catalog.load_tables"):
            catalog.load_tables(spark, self.bench_dir)

    def run_pass(self, spark) -> tuple[list[Op], float]:
        """The ops in seed order; the pass time is their total."""
        order = list(DASHBOARD_OPS)
        self.b.rng.shuffle(order)
        with self.b.tracer.span("pass") as s:
            ops = [self.run_op(spark, q) for q in order]
        return ops, s.end - s.start


@dataclass
class Backlog:
    src: str
    files: list[str]
    rows: int  # staged rows, the redelivered copy included
    bytes: int
    late: int  # index in ``files`` of the late slice
    redelivered: int  # index in ``files`` of the redelivered copy


class IngestStream:
    """The price topic as a file-source backlog, drained by
    ``run_incremental_indicator_stream`` into fresh stores: time-ordered
    slices, one file per micro-batch, with one late slice and one
    redelivered slice chosen by the seed."""

    name = "ingest_stream"

    def __init__(self, bench: Bench):
        self.b = bench
        self.expect = checks.load_expected()[self.name]
        self.events = {
            name: pq.read_table(os.path.join(bench.data_dir(name), "events.parquet"))
            for name in ("stream", "small")
        }
        self.progress: ProgressLog | None = None
        self.drains: list[dict] = []  # one record per measured drain

    def attach(self, spark) -> None:
        self.progress = ProgressLog(spark)

    def stage(self, dataset: str, dest: str) -> Backlog:
        table = self.events[dataset]
        k = STREAM_SLICES[dataset]
        n = table.num_rows
        bounds = [n * i // k for i in range(k + 1)]
        late = self.b.rng.randrange(1, k - 1) if k > 2 else k - 1
        redo = self.b.rng.choice([i for i in range(k) if i != late])
        order = [i for i in range(k) if i != late] + [redo, late]
        os.makedirs(dest)
        files = []
        now = time.time()
        for pos, i in enumerate(order):
            path = os.path.join(dest, f"part-{pos:04d}-slice{i}.parquet")
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
            # the file source takes files in modification-time order
            os.utime(path, (now - 1000 + pos, now - 1000 + pos))
            files.append(path)
        rows = sum(bounds[i + 1] - bounds[i] for i in order)
        size = sum(os.path.getsize(f) for f in files)
        return Backlog(dest, files, rows, size, late=len(order) - 1, redelivered=k - 1)

    def drain(self, spark, dataset: str, outer: str) -> tuple[list[Op], float]:
        """Stage a backlog of ``dataset``, drain it into fresh stores and
        check them. ``outer`` names the span around the drain alone
        ("pass" for a measured pass); returns the batches as ops and the
        drain time."""
        from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
            run_incremental_indicator_stream,
        )

        base = os.path.join(self.b.work, f"{outer}{self.b.next_op()}")
        backlog = self.stage(dataset, os.path.join(base, "prices"))
        ev_store = os.path.join(base, "events_store")
        ind_store = os.path.join(base, "indicator_store")
        before = self.progress.queries()
        t = self.b.tracer
        with t.span(outer), t.span("streaming.prices.drain", op=self.b.next_op()) as s:
            try:
                run_incremental_indicator_stream(
                    spark, backlog.src, ev_store, ind_store, lookback_days=LOOKBACK_DAYS
                )
                raised = False
            except Exception:
                _log_failure(f"price stream drain ({outer})")
                raised = True
        drain_s = s.end - s.start
        if raised:
            return [Op("prices", drain_s, False) for _ in backlog.files], drain_s
        (qid,) = self.progress.queries() - before
        batches = self.progress.batches(qid)
        ok = len(batches) == len(backlog.files) and self.check(
            spark, self.expect[dataset], ev_store, ind_store
        )
        if outer == "pass":
            self.drains.append(
                {"backlog": backlog, "batches": batches, "stores": (ev_store, ind_store)}
            )
        return [Op("prices", r["trigger_ms"] / 1000.0, ok) for r in batches], drain_s

    def check(self, spark, want: dict, ev_store: str, ind_store: str) -> bool:
        from pyspark.sql import functions as F

        ind = spark.read.parquet(ind_store).drop("dt")
        got_ind = checks.digest(ind.select(*sorted(ind.columns)))
        ev = spark.read.parquet(ev_store).agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("event_id").alias("ids")
        ).first()
        got_ev = [int(ev["n"]), int(ev["ids"])]
        want_ev = [want["events_rows"], want["events_rows"]]
        if got_ind != want["indicators"] or got_ev != want_ev:
            print(
                f"perfbench: ingest: indicators {got_ind} (want "
                f"{want['indicators']}), events rows/ids {got_ev} (want {want_ev})",
                file=sys.stderr,
            )
            return False
        return True

    def warm(self, spark) -> list[Op]:
        # A 3-batch backlog (first batch, a batch against existing
        # stores, a redelivered batch): a full-size warm-up drain cost
        # 15 s more per run and did not make batch times steadier.
        return self.drain(spark, "small", "warm")[0]

    def load_catalog(self, spark) -> None:
        pass

    def run_pass(self, spark) -> tuple[list[Op], float]:
        """One backlog; the pass time runs from the staged backlog until
        the stream has drained it (staging and checks excluded)."""
        return self.drain(spark, "stream", "pass")


WORKLOADS = {w.name: w for w in (DashboardMix, IngestStream)}
