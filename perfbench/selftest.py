"""Self-test of the benchmark harness at a tiny size.

    python3 perfbench/selftest.py

Checks that BENCHMARK.json declares the harness's workloads and metrics,
and the GeoJSON generator (byte-identical per seed; the re-report,
invalid-row, tsunami and country-suffix shares), then runs each workload
once untraced and once traced at sf0.001 / a 500-feature document and
checks that:

- the last stdout line has exactly the result keys, and every end-to-end
  (untraced) or per-layer (traced) metric with its unit;
- the detail file carries the per-query and pipeline-stage breakdown and
  the traced run wrote its spans;
- a corrupted recorded digest counts as a failed operation instead of
  passing;
- the harness exits non-zero, printing no result, in a directory that
  holds only BENCHMARK.json and perfbench/.

Exits 0 when every check passes. Takes a few minutes (one JVM per run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
from run import E2E_UNITS, LAYER_UNITS  # noqa: E402
from workloads import BI_QUERIES, STAR_QUERIES, WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench", "selftest")
PIPELINE_LAYERS = (
    "sources.ingest_s", "sources.read_geojson_s", "pipeline.bronze_to_silver_s",
    "pipeline.silver_to_gold_s", "sources.write_silver_s", "sources.write_gold_s",
    "sources.write_predictions_s", "sources.readback_s", "ml.train_s",
    "pipeline.runner_self_s", "bi.queries_s", "storage.files_written",
    "storage.silver_mb", "storage.gold_mb", "pipeline.valid_ratio",
)

failures: list[str] = []


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(cwd: str, workload: str, trace: int, *extra: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600,
    )
    return proc.returncode, proc.stdout.splitlines()


def check_declared() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    check({m["name"]: m["unit"] for m in declared["end_to_end"]} == E2E_UNITS,
          "BENCHMARK.json end_to_end matches the harness")
    check({m["name"]: m["unit"] for m in declared["per_layer"]} == LAYER_UNITS,
          "BENCHMARK.json per_layer matches the harness")
    check(sorted(w["name"] for w in declared["workloads"]) == sorted(WORKLOADS),
          "BENCHMARK.json workloads match the harness")


def check_generator() -> None:
    doc, n_valid = gen.feature_collection(20_000, 7)
    again, _ = gen.feature_collection(20_000, 7)
    other, _ = gen.feature_collection(20_000, 8)
    check(json.dumps(doc) == json.dumps(again), "generator: same seed, byte-identical document")
    check(json.dumps(doc) != json.dumps(other), "generator: another seed, another document")
    feats = doc["features"]
    n = len(feats)
    rereported = n - len({f["id"] for f in feats})
    tsunami = sum(f["properties"]["tsunami"] for f in feats)
    invalid = sum(
        not gen.is_valid(f["properties"], f["geometry"]["coordinates"]) for f in feats
    )
    countries = {
        f["properties"]["place"].rsplit(", ", 1)[1]
        for f in feats if ", " in f["properties"]["place"]
    }
    check(n == 20_000, "generator: 20k features")
    check(0.04 <= rereported / n <= 0.06, f"generator: ~5% re-reported ids ({rereported})")
    check(0.015 <= invalid / n <= 0.025, f"generator: ~2% invalid rows ({invalid})")
    check(0.01 <= tsunami / n <= 0.02, f"generator: ~1.5% tsunami=1 ({tsunami})")
    check(len(countries) >= 40, f"generator: >= 40 country suffixes ({len(countries)})")
    days = {(f["properties"]["time"] - gen.WINDOW_START_MS) // gen.DAY_MS
            for f in feats if f["properties"]["time"] is not None}
    check(min(days) >= 0 and max(days) < 365, "generator: events within 365 days")
    check(0 < n_valid < n - rereported, f"generator: distinct valid ids ({n_valid})")


def check_result(lines: list[str], units: dict[str, str], what: str) -> dict:
    res = json.loads(lines[-1])
    check(sorted(res) == ["attempted", "correct", "failed", "metrics"], f"{what}: result keys")
    check(isinstance(res["attempted"], int) and res["attempted"] >= 1, f"{what}: attempted >= 1")
    got = {k: v.get("unit") for k, v in res["metrics"].items()}
    check(got == units, f"{what}: every metric with its unit")
    check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
          f"{what}: numeric values")
    return res


def detail(lines: list[str]) -> dict:
    path = lines[-2].split("detail ", 1)[1]
    with open(os.path.join(ROOT, path)) as fh:
        return json.load(fh)


def main() -> int:
    check_declared()
    check_generator()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    digests = os.path.join(WORK, "digests.json")
    expected_layers = {
        "star_analytics": [
            f"{q}.{m}" for q in STAR_QUERIES for m in ("build_s", "exec_s", "build_jobs")
        ],
        "medallion_refresh": [
            *PIPELINE_LAYERS,
            *(f"{q}.{m}" for q in BI_QUERIES for m in ("build_s", "exec_s", "build_jobs")),
        ],
    }
    for workload in ("star_analytics", "medallion_refresh"):
        rc, lines = run(ROOT, workload, 0, "--digests", digests, "--record-digests")
        check(rc == 0, f"{workload} untraced: exit 0")
        res = check_result(lines, E2E_UNITS, f"{workload} untraced")
        check(res["correct"] and res["failed"] == 0, f"{workload} untraced: correct")
        check(all(v["value"] > 0 for v in res["metrics"].values()),
              f"{workload} untraced: end-to-end metrics are positive")

        if workload == "star_analytics":
            with open(digests) as fh:
                data = json.load(fh)
            recorded = data[workload]["sf0.001"]["1"]
            first = sorted(recorded)[0]
            recorded[first] = "0000000000000000:0"
            with open(digests, "w") as fh:
                json.dump(data, fh)
        rc, lines = run(ROOT, workload, 1, "--digests", digests)
        check(rc == 0, f"{workload} traced: exit 0")
        res = check_result(lines, LAYER_UNITS, f"{workload} traced")
        d = detail(lines)
        missing = [k for k in expected_layers[workload] if k not in d["layers"]]
        check(not missing, f"{workload} traced: detail layers present {missing or ''}")
        with open(d["spans_file"]) as fh:
            spans = json.load(fh)
        check(bool(spans) and set(spans[0]) == {"name", "start", "end", "parent", "pass"},
              f"{workload} traced: spans written")
        if workload == "star_analytics":
            n_passes = len(d["pass_wall_s"])
            check(not res["correct"] and res["failed"] == n_passes,
                  f"corrupted digest of {first} fails once per pass ({res['failed']}/{n_passes})")
        else:
            check(res["correct"], f"{workload} traced: correct")

    bare = os.path.join(WORK, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, lines = run(bare, "star_analytics", 0)
    check(rc != 0 and not lines, "bare directory: non-zero exit, no result printed")

    shutil.rmtree(WORK, ignore_errors=True)
    print("selftest:", "FAILED " + "; ".join(failures) if failures else "all checks passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
