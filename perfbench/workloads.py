"""The benchmark workloads: one pass = one closed-loop round of work.

Each workload times calls into the package's public functions from the
outside (``sources.tables.load_table``, ``plans.QUERIES[q].spark_fn``, the
materialization of the returned frame, ``pipeline.runner.run_pipeline``,
``plans.bi.*``) and digests every result it times.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import statistics
import sys
import time
import traceback

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
from etl_earthquake_gcp_spark import plans
from etl_earthquake_gcp_spark.pipeline import runner
from etl_earthquake_gcp_spark.plans import bi
from etl_earthquake_gcp_spark.sources.tables import TABLE_NAMES, load_table
from etl_earthquake_gcp_spark.sources.writers import read_table
from layers import cached, group_metrics

# the bench=True queries of core_queries, olap_queries, session_queries and
# asof_queries: star-schema reads where plan build and table opening are a
# large share of each query
STAR_QUERIES = (
    "asof_nearest_click",
    "asof_purchase_prior_click",
    "date_hierarchy_rollup",
    "flagship_events_by_region",
    "join_broadcast_hint",
    "join_sortmerge_hint",
    "latest_event_dedup",
    "latest_event_dedup_maxby",
    "pricing_summary",
    "sessionize_events",
    "window_rank_suite",
)

GOLD_TABLES = (
    "fact_earthquake_events",
    "dim_date",
    "dim_location",
    "dim_magnitude",
    "dim_event_type",
    "tsunami_predictions",
)

BI_QUERIES = {
    "total_events": bi.total_events,
    "avg_magnitude": bi.avg_magnitude,
    "max_magnitude": bi.max_magnitude,
    "tsunami_warnings_issued": bi.tsunami_warnings_issued,
    "events_over_time": bi.events_over_time,
    "events_by_country": bi.events_by_country,
    "geo_bubbles": bi.geo_bubbles,
    "slicers": lambda gold: bi.slicers(gold, tsunami=False, magnitude_category="Light"),
}

# the dashboards are answered this many times after each refresh (several
# viewers); dashboard_s is the median round, which a single 3 s round is too
# short to give steadily
DASHBOARD_ROUNDS = 3

EXEC_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
)


def digest(df: DataFrame) -> str:
    """Materialize every row and projection; bench.py's xxhash64(struct(*))
    bit_xor plus the row count (xor alone is blind to row multiplicity)."""
    row = df.select(F.xxhash64(F.struct(*df.columns)).alias("h")).agg(
        F.expr("bit_xor(h)"), F.count(F.lit(1))
    ).collect()[0]
    return f"{(row[0] or 0) & (2**64 - 1):016x}:{row[1]}"


class Ops:
    """Operations attempted and failed; a failure is an exception or a
    result that does not match its expected digest or count."""

    def __init__(self):
        self.recorded: dict[str, str] = {}
        self.first: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str, exc: Exception | None = None) -> None:
        self.failed += 1
        if exc is not None:
            what += f": {type(exc).__name__}: {exc}"[:500]
            traceback.print_exception(exc, file=sys.stderr)
        if len(self.errors) < 20:
            self.errors.append(what)

    def check_digest(self, key: str, d: str, pass_id: int) -> None:
        first = self.first.setdefault(key, d)
        if d != first:
            self.fail(f"pass {pass_id} {key}: digest {d} != first pass {first}")
        elif key in self.recorded and d != self.recorded[key]:
            self.fail(f"pass {pass_id} {key}: digest {d} != recorded {self.recorded[key]}")


class Workload:
    """Shared pass scaffolding; subclasses define ``prepare`` (one set-up),
    ``body`` (one pass; returns its dashboard seconds) and ``pass_layers``
    (their workload-specific per-layer numbers)."""

    name = ""
    scale_key = ""
    min_timed_passes = 1

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.ops = Ops()
        self.cores = self.sc.defaultParallelism
        self.open_s: list[float] = []
        self.open_jobs = 0.0
        self.groups: list[str] = []

    def reset(self) -> None:
        """Same start state for every pass, outside the timers."""
        self.spark.catalog.clearCache()
        self.sc._jvm.System.gc()
        gc.collect()

    def run_pass(self, pass_id: int) -> dict:
        self.reset()
        self.tracer.pass_id = pass_id
        # per-pass sums, traced runs only
        self.layer: dict[str, float] = dict.fromkeys(
            ("plans.build_s", "plans.build_jobs", "plans.exec_s",
             "cache.persisted_rdds", "cache.persisted_mb"), 0.0)
        self.groups = []
        # build + exec seconds of each query run in the pass
        self.queries: dict[str, list[float]] = {}
        t0 = time.perf_counter()
        dashboard_s = self.body(pass_id)
        wall = time.perf_counter() - t0
        out = {"wall_s": wall, "dashboard_s": dashboard_s, "queries": self.queries}
        if self.tracer.enabled:
            ex = dict.fromkeys(EXEC_KEYS, 0.0)
            for gid in self.groups:
                for k, v in group_metrics(self.sc, gid).items():
                    ex[k] += v
            self.layer.update({f"exec.{k}": v for k, v in ex.items()})
            self.layer["exec.core_idle_s"] = self.cores * wall - ex["task_s"]
            self.layer.update(self.pass_layers(pass_id))
            out["layers"] = self.layer
        return out

    def timed_query(self, pass_id: int, key: str, build) -> float | None:
        """build() → DataFrame, then materialize + digest; returns seconds."""
        self.ops.attempted += 1
        gid = f"p{pass_id}:{self.ops.attempted}:{key}"
        try:
            self.tracer.group(gid + ":build")
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            self.tracer.group(gid + ":exec")
            d = digest(df)
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — one failed operation
            self.ops.fail(f"pass {pass_id} {key}", exc)
            return None
        self.ops.check_digest(key, d, pass_id)
        self.queries.setdefault(key, []).append(t2 - t0)
        self.tracer.record(f"{key}.build", t0, t1)
        self.tracer.record(f"{key}.exec", t1, t2)
        if self.tracer.enabled:
            self.groups += [gid + ":build", gid + ":exec"]
            jobs = group_metrics(self.sc, gid + ":build")["jobs"]
            n, mb = cached(self.sc)
            for name, v in (
                ("plans.build_s", t1 - t0), ("plans.exec_s", t2 - t1),
                ("plans.build_jobs", jobs), ("cache.persisted_rdds", n),
                ("cache.persisted_mb", mb), (f"{key}.build_s", t1 - t0),
                (f"{key}.exec_s", t2 - t1), (f"{key}.build_jobs", jobs),
            ):
                self.layer[name] = self.layer.get(name, 0.0) + v
        return t2 - t0

    def open_tables(self, tag: str, opener) -> dict:
        """Open tables under one job group; records time and job count."""
        gid = f"open:{tag}"
        self.tracer.group(gid)
        t0 = time.perf_counter()
        with self.tracer.span("sources.open"):
            tables = opener()
        self.open_s.append(time.perf_counter() - t0)
        if self.tracer.enabled:
            self.open_jobs = group_metrics(self.sc, gid)["jobs"]
            self.groups.append(gid)
        return tables


class StarAnalytics(Workload):
    name = "star_analytics"
    # passes still speed up after the cold one (JIT); the median of three
    # is robust to the slowest
    min_timed_passes = 3

    def __init__(self, *args, sf: float):
        super().__init__(*args)
        self.sf = sf
        self.scale_key = f"sf{sf:g}"
        self.data_dir = ""

    def prepare(self, i: int) -> None:
        self.data_dir = os.path.join(self.work, f"tables{i}")
        shutil.rmtree(self.data_dir, ignore_errors=True)
        with self.tracer.span("gen.star_tables"):
            gen.write_star_tables(self.data_dir, self.sf, self.seed)
        self.open_tables(
            str(i),
            lambda: {t: load_table(self.spark, self.data_dir, t) for t in TABLE_NAMES},
        )

    def body(self, pass_id: int) -> float:
        order = list(STAR_QUERIES)
        random.Random(self.seed * 1000 + pass_id).shuffle(order)
        total = 0.0
        for name in order:
            fn = plans.QUERIES[name].spark_fn
            with self.tracer.span(name):
                dt = self.timed_query(
                    pass_id, name, lambda fn=fn: fn(self.spark, self.data_dir)
                )
            total += dt or 0.0
            self.spark.catalog.clearCache()
        return total

    def pass_layers(self, pass_id: int) -> dict[str, float]:
        return {
            "sources.open_s": statistics.median(self.open_s),
            "sources.open_jobs": self.open_jobs,
        }


# spans around the names pipeline/runner.py imports, traced runs only
_WRITE_SPANS = (
    ("tsunami_predictions", "sources.write_predictions"),
    ("/gold/", "sources.write_gold"),
    ("/silver/", "sources.write_silver"),
)
_PIPELINE_CHILDREN = {
    "ingest_to_bronze": "sources.ingest",
    "read_geojson": "sources.read_geojson",
    "bronze_to_silver": "pipeline.bronze_to_silver",
    "silver_to_gold": "pipeline.silver_to_gold",
    "read_table": "sources.readback",
    "train_tsunami_model": "ml.train",
}


def _dir_stats(path: str) -> tuple[int, float]:
    n, size = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size / 2**20


class MedallionRefresh(Workload):
    name = "medallion_refresh"
    # a ~20 s refresh after a ~40 s cold pass: one timed pass is what the
    # run budget allows
    min_timed_passes = 1

    def __init__(self, *args, n_features: int):
        super().__init__(*args)
        self.n_features = n_features
        self.scale_key = f"n{n_features}"
        self.doc: dict = {}
        self.n_valid = 0
        self.result = None
        self.out = ""

    def prepare(self, i: int) -> None:
        with self.tracer.span("gen.feature_collection"):
            self.doc, self.n_valid = gen.feature_collection(self.n_features, self.seed)

    def reset(self) -> None:
        if self.out:
            shutil.rmtree(self.out, ignore_errors=True)
        super().reset()

    def _patch_runner(self) -> dict:
        saved = {n: getattr(runner, n) for n in (*_PIPELINE_CHILDREN, "write_table")}
        for attr, span in _PIPELINE_CHILDREN.items():
            setattr(runner, attr, self.tracer.wrap(span, saved[attr]))
        write = saved["write_table"]

        def write_table(df, path, *args, **kwargs):
            span = next((s for key, s in _WRITE_SPANS if key in path), "sources.write_other")
            with self.tracer.span(span):
                return write(df, path, *args, **kwargs)

        runner.write_table = write_table
        return saved

    def body(self, pass_id: int) -> float:
        self.out = os.path.join(self.work, f"refresh{pass_id}")
        bronze = os.path.join(self.out, "bronze", "raw_earthquakes.json")
        saved = self._patch_runner() if self.tracer.enabled else {}
        gid = f"p{pass_id}:pipeline"
        self.tracer.group(gid)
        self.groups.append(gid)
        self.ops.attempted += 1
        try:
            with self.tracer.span("pipeline.run"):
                self.result = runner.run_pipeline(
                    self.spark, bronze, self.out, fetch=lambda: self.doc, train_model=True
                )
        except Exception as exc:  # noqa: BLE001 — one failed operation
            self.ops.fail(f"pass {pass_id} run_pipeline", exc)
            self.result = None
            return 0.0
        finally:
            for attr, fn in saved.items():
                setattr(runner, attr, fn)
        fact_rows = self.result.gold_tables.get("fact_earthquake_events")
        if fact_rows != self.n_valid or self.result.silver_rows != self.n_valid:
            self.ops.fail(
                f"pass {pass_id}: fact rows {fact_rows}, silver rows "
                f"{self.result.silver_rows} != {self.n_valid} distinct valid ids"
            )
        rounds = []
        self.ops.attempted += 1  # opening the stored gold and the card check
        try:
            for r in range(DASHBOARD_ROUNDS):
                t0 = time.perf_counter()
                gold = self.open_tables(
                    f"p{pass_id}r{r}",
                    lambda: {t: read_table(self.spark, f"{self.out}/gold/{t}")
                             for t in GOLD_TABLES},
                )
                for name, fn in BI_QUERIES.items():
                    with self.tracer.span(f"bi.{name}"):
                        self.timed_query(pass_id, name, lambda fn=fn: fn(gold))
                rounds.append(time.perf_counter() - t0)
            # the card's value, read after the timers and outside the pass's groups
            self.tracer.group(f"p{pass_id}:check")
            total = bi.total_events(gold).first()[0]
            if total != self.n_valid:
                self.ops.fail(f"pass {pass_id}: total_events {total} != {self.n_valid}")
        except Exception as exc:  # noqa: BLE001 — one failed operation
            self.ops.fail(f"pass {pass_id} gold", exc)
        return statistics.median(rounds) if rounds else 0.0

    def pass_layers(self, pass_id: int) -> dict[str, float]:
        spans = self.tracer.totals(pass_id)
        children = [*_PIPELINE_CHILDREN.values(), *(s for _k, s in _WRITE_SPANS)]
        out = {f"{s}_s": spans.get(s, 0.0) for s in children}
        out["pipeline.runner_self_s"] = spans.get("pipeline.run", 0.0) - sum(
            spans.get(s, 0.0) for s in children
        )
        out["bi.queries_s"] = sum(v for k, v in spans.items() if k.startswith("bi."))
        out["sources.open_s"] = statistics.median(self.open_s[-DASHBOARD_ROUNDS:])
        out["sources.open_jobs"] = self.open_jobs
        n_files, _ = _dir_stats(self.out)
        out["storage.files_written"] = float(n_files)
        out["storage.silver_mb"] = _dir_stats(f"{self.out}/silver")[1]
        out["storage.gold_mb"] = _dir_stats(f"{self.out}/gold")[1]
        if self.result is not None and self.result.observed:
            obs = self.result.observed
            out["pipeline.valid_ratio"] = obs["n_valid"] / obs["n_flattened"]
        return out


WORKLOADS = {"star_analytics": StarAnalytics, "medallion_refresh": MedallionRefresh}
