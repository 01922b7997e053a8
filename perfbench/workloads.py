"""The benchmark's closed-loop workloads.

Each runs from one process with one client: the next operation starts
only after the previous one returned. A workload stages its inputs from
the seed, then repeats :meth:`rep` with fresh state each time. :meth:`check` validates a
repetition's outputs outside the timed window. :meth:`install` wraps the
package's public functions for a traced run and :meth:`layer_metrics`
turns the recorded spans into per-layer figures.

- ``accidents_pipeline``: the paper's own job, and the only workload
  that runs the ``ml.*`` layers; its sinks (``sources.io`` writers,
  ``operators.viz``) are in the timed path.
- ``analyst_queries``: read-only analytics, 22 registry queries with
  DuckDB oracles covering relational, document and embedding operators,
  over a copy of the repository's test tables.
- ``stream_upsert``: the only workload dominated by writes; accident
  change files drained one per trigger into a versioned snapshot table.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# A copy of the repository's TPC-H-style test tables (seed 42): ``sf0.01``
# for the benchmark, ``sf0.001`` for its self-test.
TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")

MIX = (
    # relational
    "pricing_summary", "join_revenue_topk", "join_region_stats",
    "window_topk_per_group", "window_running_sum", "priority_distribution",
    "hourly_event_stats", "median_exact", "rolling_30d_revenue",
    "cohort_retention", "nation_market_share", "shipping_priority_topk",
    "sessionize_events",
    # documents
    "exact_dedup_docs", "minhash_banded_pairs", "text_quality_scores",
    "tfidf_top_terms", "line_dedup_docs", "bm25_doc_scores",
    # embeddings
    "knn_cosine_batch", "embedding_near_dup_pairs_blas", "lsh_ann_batch",
)

# Quality floors of the pipeline's models: below them the run counts
# as failed, so speed bought by cutting model work shows as an error.
# Each is 0.01 below the lowest value over seeds 0-49 at 8,000 rows
# (rf 0.7211, kNN 0.645, silhouette 0.5773).
QUALITY_FLOORS = {"rf.accuracy": 0.711, "knn.accuracy": 0.635, "kmeans.silhouette": 0.567}


@dataclass(frozen=True)
class Sizes:
    accident_rows: int = 8_000
    analyst_sf: str = "sf0.01"
    stream_batches: int = 8
    stream_new_rows: int = 3_000  # new IDs per change file
    stream_updates: int = 1_000  # updates to earlier IDs per file after the first


TINY = Sizes(accident_rows=2_000, analyst_sf="sf0.001", stream_batches=3,
             stream_new_rows=400, stream_updates=100)


@dataclass
class Rep:
    """One timed repetition: a latency per operation, the timed wall
    seconds, and what :meth:`check` needs afterwards."""
    latencies: list[float]
    wall: float
    state: dict = field(default_factory=dict)


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # one thread: a check is small and must not load the host
    con.execute("SET threads=1")
    return con


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def _median_over(per_run: dict[int, float], runs: list[int]) -> float:
    return statistics.median(per_run.get(r, 0.0) for r in runs)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, sizes: Sizes):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.tracer = None

    def stage(self, fixture_dir: str) -> None:
        raise NotImplementedError

    def rep(self, i: int) -> Rep:
        raise NotImplementedError

    def check(self, rep: Rep) -> int:
        """Validate and clean up one repetition; returns failed ops."""
        raise NotImplementedError

    def install(self, tracer) -> None:
        self.tracer = tracer

    def layer_metrics(self, tracer, runs: list[int]) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------
class AccidentsPipeline(Workload):
    name = "accidents_pipeline"

    def stage(self, fixture_dir):
        from us_accidents_bigdata_pipeline_spark.sources.accidents import (
            generate_accidents_raw_distributed,
        )

        generate_accidents_raw_distributed(
            self.spark, self.sizes.accident_rows, seed=self.seed
        ).write.mode("overwrite").parquet(fixture_dir)
        self.raw_path = fixture_dir
        self.summaries: dict[int, dict] = {}
        self.expect: tuple[int, set[str]] | None = None

    def _expected(self) -> tuple[int, set[str]]:
        con = _duck()
        src = f"read_parquet('{self.raw_path}/*.parquet')"
        rows = con.execute(
            f"""SELECT count(*) FROM {src}
                WHERE Start_Lat IS NOT NULL AND Start_Lng IS NOT NULL
                  AND NOT isnan(Start_Lat) AND NOT isnan(Start_Lng)
                  AND Severity BETWEEN 1 AND 4"""
        ).fetchone()[0]
        states = {r[0] for r in con.execute(f"SELECT DISTINCT State FROM {src}").fetchall()}
        con.close()
        return rows, states

    def rep(self, i):
        from us_accidents_bigdata_pipeline_spark import pipeline

        out = os.path.join(self.work, f"pipeline-out-{i}")
        t0 = time.perf_counter()
        raw = self.spark.read.parquet(self.raw_path)
        summary = pipeline.run_complete_pipeline(self.spark, raw, output_dir=out)
        wall = time.perf_counter() - t0
        self.summaries[i] = summary
        return Rep([wall], wall, state={"out": out, "summary": summary})

    def check(self, rep):
        if self.expect is None:
            self.expect = self._expected()
        rows, states = self.expect
        out, summary = rep.state["out"], rep.state["summary"]
        parts = {
            n.split("=", 1)[1]
            for n in os.listdir(os.path.join(out, "cleaned_data"))
            if n.startswith("State=")
        }
        problems = []
        if summary["rows_processed"] != rows:
            problems.append(f"rows_processed {summary['rows_processed']} != {rows}")
        if parts != states:
            problems.append(f"State partitions {sorted(parts)}")
        if pq.read_table(os.path.join(out, "model_results")).num_rows == 0:
            problems.append("model_results is empty")
        for key, value in self.quality(summary).items():
            if not value >= QUALITY_FLOORS[key]:
                problems.append(f"{key} {value} below {QUALITY_FLOORS[key]}")
        shutil.rmtree(out)
        rep.state["problems"] = problems
        return 1 if problems else 0

    @staticmethod
    def quality(summary: dict) -> dict[str, float]:
        st = summary["stages"]
        return {
            "rf.accuracy": st["random_forest"]["metrics"]["accuracy"],
            "knn.accuracy": st["knn"]["metrics"]["accuracy"],
            "kmeans.silhouette": st["kmeans"]["silhouette"],
        }

    def install(self, tr):
        from us_accidents_bigdata_pipeline_spark import pipeline as P
        from us_accidents_bigdata_pipeline_spark.ml import rf as rf_mod
        from us_accidents_bigdata_pipeline_spark.operators import viz

        knn_pending = {"on": False}
        rf_calls = {"n": 0}

        def lazy(name):
            # clean() returns a lazy frame that the caller caches and
            # counts: its span runs until the next wrapped call opens
            def make(orig):
                @functools.wraps(orig)
                def wrapper(*a, **k):
                    if tr.enabled:
                        tr.open_until_next(name)
                    return orig(*a, **k)
                return wrapper
            return make

        def evaluate(orig):
            # the evaluation after knn_predict is what runs the kNN
            # scoring (knn_predict only builds the plan)
            @functools.wraps(orig)
            def wrapper(*a, **k):
                if not tr.enabled:
                    return orig(*a, **k)
                name = "knn.score" if knn_pending["on"] else "metrics"
                knn_pending["on"] = False
                with tr.span(name):
                    return orig(*a, **k)
            return wrapper

        def count_calls(orig):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                if tr.enabled:
                    rf_calls["n"] += 1
                return orig(*a, **k)
            return wrapper

        def after_rf(sp, out, a, k):
            sp.attrs["retries"] = rf_calls["n"] - 1
            rf_calls["n"] = 0

        def after_knn(sp, out, a, k):
            knn_pending["on"] = True

        def after_bc(sp, out, a, k):
            arrays = [v for v in out.value if hasattr(v, "nbytes")]
            sp.attrs["bytes"] = sum(v.nbytes for v in arrays)
            sp.attrs["rows"] = int(out.value[0].shape[0])

        def after_fit(sp, out, a, k):
            sp.attrs["iterations"] = out.summary.numIter

        def after_write(sp, out, a, k):
            path = a[1] if len(a) > 1 else k["path"]
            sp.attrs["bytes"], sp.attrs["files"] = _dir_bytes(path)

        tr.patch(P, "clean", lazy("clean"))
        tr.wrap(P, "assemble_and_scale", "features")
        tr.patch(rf_mod, "train_rf", count_calls)
        tr.wrap(P, "train_with_retry", "rf.fit", after_rf)
        tr.patch(P, "evaluate_classifier", evaluate)
        tr.wrap(P, "broadcast_train", "knn.broadcast", after_bc)
        tr.wrap(P, "knn_predict", "knn.plan", after_knn)
        tr.wrap(P, "k_sweep", "kmeans.sweep")
        tr.wrap(P, "fit_kmeans", "kmeans.fit", after_fit)
        tr.wrap(P, "silhouette", "kmeans.silhouette")
        tr.wrap(P, "write_parquet", "io.write", after_write)
        tr.wrap(viz, "export_chart_suite", "viz")
        tr.wrap(P, "run_complete_pipeline", "pipeline")

    def layer_metrics(self, tr, runs):
        def m(name, value=lambda sp: sp.seconds):
            return _median_over(tr.per_run(name, value), runs)

        def from_summary(fn):
            return statistics.median(fn(self.summaries[r]) for r in runs)

        bc_rows = tr.per_run("knn.broadcast", lambda sp: sp.attrs["rows"])
        out = {
            "clean.s": m("clean"),
            "features.s": m("features"),
            "rf.fit_s": m("rf.fit"),
            "rf.fit_rows_per_s": from_summary(
                lambda s: s["stages"]["random_forest"]["fit_rows_per_sec"]),
            "rf.jobs": m("rf.fit", lambda sp: sp.job_hi - sp.job_lo),
            "rf.retries": m("rf.fit", lambda sp: sp.attrs["retries"]),
            "metrics.s": m("metrics"),
            "knn.broadcast_s": m("knn.broadcast"),
            "knn.broadcast_bytes": m("knn.broadcast", lambda sp: sp.attrs["bytes"]),
            "knn.score_s": m("knn.score"),
            # every test row is scored against every broadcast train row
            "knn.pairs_scored": statistics.median(
                (self.summaries[r]["rows_processed"]
                 - self.summaries[r]["stages"]["random_forest"]["train_rows"])
                * bc_rows.get(r, 0) for r in runs),
            "kmeans.sweep_s": m("kmeans.sweep"),
            "kmeans.fit_s": m("kmeans.fit"),
            "kmeans.silhouette_s": m("kmeans.silhouette"),
            "kmeans.iterations": m("kmeans.fit", lambda sp: sp.attrs["iterations"]),
            "io.write_s": m("io.write"),
            "io.bytes_written": m("io.write", lambda sp: sp.attrs["bytes"]),
            "io.files_written": m("io.write", lambda sp: sp.attrs["files"]),
            "viz.s": m("viz"),
        }
        for key in QUALITY_FLOORS:
            out[key] = from_summary(lambda s: self.quality(s)[key])
        return out


# ---------------------------------------------------------------------
def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


def _norm_rows(cols, rows):
    """The oracle comparison rule of ``tests/test_oracle.py`` (not
    imported: the benchmark does not depend on the test suite): columns
    sorted by name, floats rounded to 6 places, rows sorted by their
    stringified tuple."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


class AnalystQueries(Workload):
    name = "analyst_queries"

    def stage(self, fixture_dir):
        # the tables are fixed; the seed only permutes the query order
        self.data = os.path.join(TESTDATA, self.sizes.analyst_sf)
        self.rng = np.random.default_rng(self.seed)
        self.expected_rows: dict[str, int] = {}

    def check_oracles(self, results: dict) -> list[str]:
        """Compare each query's first result with its DuckDB oracle,
        record the row count every later execution must match and
        return the names that differ."""
        from us_accidents_bigdata_pipeline_spark.plans import REGISTRY

        con = _duck()
        for f in sorted(os.listdir(self.data)):
            t = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{f}'")
        bad = []
        for name in MIX:
            cur = con.execute(REGISTRY[name].oracle)
            cols = [d[0] for d in cur.description]
            want = _norm_rows(cols, cur.fetchall())
            got_cols, got_rows = results[name]
            if _norm_rows(got_cols, got_rows) != want:
                bad.append(name)
            self.expected_rows[name] = len(want[1])
        con.close()
        return bad

    def rep(self, i):
        from us_accidents_bigdata_pipeline_spark.plans import REGISTRY

        tr = self.tracer
        order = list(self.rng.permutation(MIX))
        lat, results = [], {}
        t_rep = time.perf_counter()
        for name in order:
            builder = REGISTRY[name].builder
            t0 = time.perf_counter()
            if tr is not None and tr.enabled:
                with tr.span("query", query=name):
                    with tr.span("plan.build"):
                        df = builder(self.spark, self.data)
                    with tr.span("plan.execute") as sp:
                        got = df.collect()
                    sp.attrs["rows"] = len(got)
            else:
                df = builder(self.spark, self.data)
                got = df.collect()
            lat.append(time.perf_counter() - t0)
            results[name] = (df.columns, got)
        wall = time.perf_counter() - t_rep
        return Rep(lat, wall, state={"results": results})

    def check(self, rep):
        results = rep.state["results"]
        bad = [] if self.expected_rows else self.check_oracles(results)
        problems = [f"{n}: differs from its oracle" for n in bad] + [
            f"{n}: {len(r)} rows, oracle has {self.expected_rows[n]}"
            for n, (_c, r) in results.items()
            if n not in bad and len(r) != self.expected_rows[n]
        ]
        rep.state["problems"] = problems
        return len(problems)

    def layer_metrics(self, tr, runs):
        out = {
            "plan.build_s": _median_over(tr.per_run("plan.build"), runs),
            "plan.execute_s": _median_over(tr.per_run("plan.execute"), runs),
            "plan.rows_returned": _median_over(
                tr.per_run("plan.execute", lambda sp: sp.attrs["rows"]), runs),
        }
        for name in MIX:
            per_run = {}
            for sp in tr.spans:
                if sp.name == "query" and sp.attrs["query"] == name:
                    per_run[sp.run_id] = per_run.get(sp.run_id, 0.0) + sp.seconds
            out[f"q.{name}.s"] = _median_over(per_run, runs)
        return out


# ---------------------------------------------------------------------
@contextlib.contextmanager
def _started_queries():
    """Collect every streaming query started inside the block, so its
    progress events can be read after the program has stopped it."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    started, orig = [], DataStreamWriter.start

    def start(self, *a, **k):
        q = orig(self, *a, **k)
        started.append(q)
        return q

    DataStreamWriter.start = start
    try:
        yield started
    finally:
        DataStreamWriter.start = orig


class StreamUpsert(Workload):
    name = "stream_upsert"
    KEY, ORDER = "ID", "updated_at"
    PROGRESS = {"stream.add_batch_ms": "addBatch", "stream.planning_ms": "queryPlanning",
                "stream.wal_commit_ms": "walCommit", "stream.latest_offset_ms": "latestOffset"}

    def stage(self, fixture_dir):
        """One change file per batch: ``stream_new_rows`` new accidents,
        then (after the first) ``stream_updates`` new versions of earlier
        IDs, drawn with replacement so a batch can update an ID twice.
        ``updated_at`` rises with the file; file mtimes follow it, which
        is the order the file source reads them in."""
        from us_accidents_bigdata_pipeline_spark.sources.accidents import (
            generate_accidents_raw_distributed,
        )

        s = self.sizes
        n = s.stream_new_rows
        raw = generate_accidents_raw_distributed(
            self.spark, s.stream_batches * n, seed=self.seed).toArrow()
        # session-UTC instants as naive timestamps: the file source, the
        # snapshot Spark writes and the DuckDB check then agree on type
        raw = raw.cast(pa.schema([
            f.with_type(pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
            for f in raw.schema
        ]))
        rng = np.random.default_rng(self.seed)
        self.src = os.path.join(fixture_dir, "changes")
        os.makedirs(self.src)
        sev = raw.schema.get_field_index("Severity")
        t0 = int(time.time())
        for b in range(s.stream_batches):
            part = raw.slice(b * n, n)
            if b:
                upd = raw.take(rng.integers(0, b * n, s.stream_updates))
                upd = upd.set_column(sev, raw.schema.field(sev), pa.array(
                    rng.integers(1, 5, upd.num_rows), type=raw.schema.field(sev).type))
                part = pa.concat_tables([part, upd])
            part = part.append_column(self.ORDER, pa.array(
                b * 1_000_000 + np.arange(part.num_rows), type=pa.int64()))
            path = os.path.join(self.src, f"batch-{b:04d}.parquet")
            pq.write_table(part, path)
            os.utime(path, (t0 + b, t0 + b))
        self.schema = self.spark.read.parquet(self.src).schema
        self.input_bytes = _dir_bytes(self.src)[0]
        self.stats: dict[int, dict] = {}

    def rep(self, i):
        from us_accidents_bigdata_pipeline_spark.streaming import foreach_batch, windows

        root = os.path.join(self.work, f"stream-table-{i}")
        ckpt = os.path.join(self.work, f"stream-checkpoint-{i}")
        with _started_queries() as started:
            t0 = time.perf_counter()
            stream = windows.parquet_stream_reader(
                self.spark, self.src, self.schema, glob_filter="*.parquet",
                max_files_per_trigger=1)
            foreach_batch.streaming_upsert(stream, root, [self.KEY], self.ORDER, ckpt)
            wall = time.perf_counter() - t0
        progress = [p for q in started for p in q.recentProgress if p.numInputRows > 0]
        lat = [p.durationMs["triggerExecution"] / 1e3 for p in progress]
        return Rep(lat, wall, state={"i": i, "root": root, "ckpt": ckpt,
                                     "progress": progress})

    def check(self, rep):
        root = rep.state["root"]
        with open(os.path.join(root, "_CURRENT.json")) as f:
            current = os.path.join(root, json.load(f)["version"])
        cols = ", ".join(f'"{c}"' for c in self.schema.names)
        want = f"""SELECT {cols} FROM read_parquet('{self.src}/*.parquet')
                   QUALIFY row_number() OVER (PARTITION BY "{self.KEY}"
                                              ORDER BY "{self.ORDER}" DESC) = 1"""
        got = f"SELECT {cols} FROM read_parquet('{current}/*.parquet')"
        con = _duck()
        n_want, n_got = (con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
                         for q in (want, got))
        extra, missing = (con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
                          for a, b in ((got, want), (want, got)))
        con.close()
        problems = []
        if (n_got, extra, missing) != (n_want, 0, 0):
            problems.append(f"snapshot has {n_got} rows ({extra} unexpected, {missing} "
                            f"missing), latest-per-ID expectation has {n_want}")
        if len(rep.latencies) != self.sizes.stream_batches:
            problems.append(f"{len(rep.latencies)} batches with rows, "
                            f"expected {self.sizes.stream_batches}")
        versions = sorted((d for d in os.listdir(root) if d.startswith("v")),
                          key=lambda d: int(d[1:]))
        rows = [pq.ParquetDataset(os.path.join(root, v)).read([self.KEY]).num_rows
                for v in versions]
        progress = rep.state["progress"]
        self.stats[rep.state["i"]] = {
            **{name: statistics.median(p.durationMs[key] for p in progress)
               for name, key in self.PROGRESS.items()},
            "stream.versions_written": len(versions),
            # every batch after the first rewrites the previous snapshot
            "stream.base_rows_rewritten": sum(rows[:-1]),
            "stream.write_amp": _dir_bytes(root)[0] / self.input_bytes,
        }
        shutil.rmtree(root)
        shutil.rmtree(rep.state["ckpt"])
        rep.state["problems"] = problems
        return 1 if problems else 0

    def install(self, tr):
        from us_accidents_bigdata_pipeline_spark.streaming import foreach_batch, windows

        def traced_batches(orig):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                apply = orig(*a, **k)

                @functools.wraps(apply)
                def traced_apply(batch_df, batch_id):
                    with tr.span("stream.add_batch", batch_id=batch_id):
                        apply(batch_df, batch_id)
                return traced_apply if tr.enabled else apply
            return wrapper

        tr.wrap(windows, "parquet_stream_reader", "stream.reader")
        tr.patch(foreach_batch, "upsert_batch_fn", traced_batches)
        tr.wrap(foreach_batch, "streaming_upsert", "stream.upsert")

    def layer_metrics(self, tr, runs):
        return {key: statistics.median(self.stats[r][key] for r in runs)
                for key in self.stats[runs[0]]}


WORKLOADS = {w.name: w for w in (AccidentsPipeline, AnalystQueries, StreamUpsert)}
