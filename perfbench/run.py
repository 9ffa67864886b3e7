"""Benchmark harness: one workload, one fresh process, one local SparkSession.

    python3 perfbench/run.py --workload star_analytics --seed 1 --seconds 15 --trace 0

Run from the root of a repository checkout. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones (setup_s, cold_pass_s,
warm_pass_s, query_geomean_s, dashboard_s, peak_rss_mb); with ``--trace 1``
the per-layer ones, and the run also writes its spans. Every run writes a
detail file (pinned environment, per-pass times, quartiles, per-layer
breakdown, digests) under ``.perfbench/out/``; its path is printed on the
line before the result. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DIGESTS = os.path.join(HERE, "digests.json")

# pinned environment: the same shape on every box that has >= 4 cores
CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "2g"
PREPARES = 3  # set-ups per run; setup_s takes their median
SCALES = {
    "default": {"star_analytics": {"sf": 0.01}, "medallion_refresh": {"n_features": 20_000}},
    "tiny": {"star_analytics": {"sf": 0.001}, "medallion_refresh": {"n_features": 500}},
}
E2E_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
    "query_geomean_s": "s", "dashboard_s": "s", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s", "sources.open_s": "s", "sources.open_jobs": "count",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.exec_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.task_s": "s", "exec.core_idle_s": "s",
    "exec.gc_s": "s", "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "cache.persisted_rdds": "count", "cache.persisted_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("star_analytics", "medallion_refresh"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="minimum length of the timed phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SCALES), default="default")
    ap.add_argument("--digests", default=DIGESTS,
                    help="recorded digest file checked against (default: %(default)s)")
    ap.add_argument("--record-digests", action="store_true",
                    help="merge this run's digests into --digests")
    return ap.parse_args(argv)


def pin_environment(work: str) -> dict[str, str]:
    """Set the session's inputs through session.py's env vars, and keep
    every file Spark and the Python workers write inside ``work``."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers (mapInPandas, UDFs) import the package by name: put
        # the checkout on their path instead of relying on the caller's cwd
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        # no hsperfdata files in /tmp from the spark-submit launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def quartiles(values: list[float]) -> dict[str, float]:
    q = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"q1": q[0], "median": statistics.median(values), "q3": q[2], "n": len(values)}


def load_recorded(path: str, workload: str, scale_key: str, seed: int) -> dict:
    try:
        with open(path) as fh:
            return json.load(fh).get(workload, {}).get(scale_key, {}).get(str(seed), {})
    except FileNotFoundError:
        return {}


def record(path: str, workload: str, scale_key: str, seed: int, digests: dict) -> None:
    try:
        with open(path) as fh:
            data = json.load(fh)
    except FileNotFoundError:
        data = {}
    data.setdefault(workload, {}).setdefault(scale_key, {})[str(seed)] = dict(
        sorted(digests.items())
    )
    with open(path, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for each."""
    from pyspark import SparkContext

    from layers import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_earthquake_gcp_spark")):
        print(f"perfbench: no etl_earthquake_gcp_spark package under {ROOT}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(work_root, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    out_dir = os.path.join(work_root, "out")
    os.makedirs(out_dir, exist_ok=True)
    env = pin_environment(work)
    sys.path[:0] = [ROOT, HERE]

    try:
        from etl_earthquake_gcp_spark.session import get_spark
        from layers import RssSampler, Tracer, cpu_ticks
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2

    rss = RssSampler()
    rss.start()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}",
        },
    )
    session_start_s = time.perf_counter() - t0
    ready_s = time.perf_counter() - T_START
    try:
        tracer = Tracer(spark, bool(args.trace), T_START)
        scale = SCALES[args.scale][args.workload]
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer, **scale)
        wl.ops.recorded = load_recorded(args.digests, wl.name, wl.scale_key, args.seed)

        prepare_s = []
        for i in range(PREPARES):
            t = time.perf_counter()
            wl.prepare(i)
            prepare_s.append(time.perf_counter() - t)

        passes = [wl.run_pass(0)]
        t_timed = time.perf_counter()
        ticks0 = cpu_ticks()
        while (len(passes) <= wl.min_timed_passes
               or time.perf_counter() - t_timed < args.seconds):
            passes.append(wl.run_pass(len(passes)))
        timed_s = time.perf_counter() - t_timed
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    finally:
        peak_rss_mb = rss.stop()
        stop_spark(spark)

    warm = passes[1:]
    per_query = {
        q: statistics.median(x for p in warm for x in p["queries"].get(q, []))
        for q in warm[0]["queries"]
    }
    e2e = {
        "setup_s": ready_s + statistics.median(prepare_s),
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "query_geomean_s": statistics.geometric_mean(per_query.values()) if per_query else 0.0,
        "dashboard_s": statistics.median(p["dashboard_s"] for p in warm),
        "peak_rss_mb": peak_rss_mb,
    }
    detail = {
        "workload": args.workload,
        "scale": {"name": args.scale, **scale},
        "environment": {
            "cpus": CPUS,
            "driver_memory": DRIVER_MEMORY,
            "spark_local_dirs": env["SPARK_LOCAL_DIRS"],
            "warmup_passes": 1,
            "timed_passes": len(warm),
            "timed_phase_s": timed_s,
            # host contention: share of CPU time stolen by the hypervisor
            "timed_phase_cpu_steal": ticks[1] / max(ticks[0], 1),
            "prepares": PREPARES,
            "seed": args.seed,
        },
        "end_to_end": e2e,
        "warm_pass_s": quartiles([p["wall_s"] for p in warm]),
        "prepare_s": prepare_s,
        "session_start_s": session_start_s,
        "peak_rss_by_process_mb": rss.by_name(),
        "pass_wall_s": [p["wall_s"] for p in passes],
        "query_median_s": per_query,
        "digests": wl.ops.first,
        "digests_recorded": bool(wl.ops.recorded),
        "errors": wl.ops.errors,
    }
    metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        layers = {k: statistics.median(p["layers"][k] for p in warm if k in p["layers"])
                  for k in warm[0]["layers"]}
        layers["session.start_s"] = session_start_s
        detail["layers"] = layers
        spans_path = os.path.join(out_dir, f"{tag}-spans.json")
        with open(spans_path, "w") as fh:
            json.dump(tracer.spans, fh)
        detail["spans_file"] = spans_path
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    detail_path = os.path.join(out_dir, f"{tag}.json")
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    if args.record_digests and wl.ops.failed == 0:
        record(args.digests, wl.name, wl.scale_key, args.seed, wl.ops.first)
    shutil.rmtree(work, ignore_errors=True)

    for err in wl.ops.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(f"perfbench: detail {os.path.relpath(detail_path, ROOT)}")
    print(json.dumps({
        "correct": wl.ops.failed == 0,
        "attempted": wl.ops.attempted,
        "failed": wl.ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
