"""Repository benchmark: one closed-loop run of a named workload.

    python3 perfbench/run.py --workload job_clean --seed 1 --seconds 10 --trace 0

Workloads: ``job_clean`` and ``job_registry_dirty`` (``manifest.
run_validation_job`` on a generated corpus) and ``query_suite`` (a fixed
subset of ``__spark_entry__.queries()`` on seeded tables). ``--trace 0``
measures the end-to-end metrics; ``--trace 1`` interleaves traced and
untraced calls in one session that also writes the Spark event log, and
reports the per-layer metrics, tracing overhead included. Metric names and units come
from ``BENCHMARK.json`` at the checkout root.

Standard output: one JSON record line with every detail of the run (host
stamp, sample counts, the per-workload names such as ``files_per_s``),
then, as the last line, ``{"correct", "attempted", "failed", "metrics"}``.
Every file the run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

WORKLOADS = ("job_clean", "job_registry_dirty", "query_suite")


def load_spec() -> dict:
    return json.loads((harness.ROOT / "BENCHMARK.json").read_text())


def make_setup(record: dict, event_log: bool):
    """Prepare the inputs (not timed), then time set-up in unstolen seconds:
    the Spark session start, JVM launch included, plus the workload's
    warm-up. Inputs are built without Spark, so set-up starts from the same
    state whether or not they came from the cache. A traced run logs Spark
    events."""

    def setup(w):
        t = time.perf_counter()
        w.prepare()
        record["prepare_s"] = time.perf_counter() - t
        t, c = time.perf_counter(), harness.cpu_times()
        spark = harness.build_session(event_log)
        record["session_wall_s"] = time.perf_counter() - t
        w.bind(spark)
        w.warm_up()
        record["setup_wall_s"] = wall = time.perf_counter() - t
        return spark, harness.unstolen(wall, c, harness.cpu_times())

    return setup


def finite(x):
    return x if isinstance(x, (int, float)) and math.isfinite(x) else None


def clean(obj):
    """JSON-safe copy: non-finite floats become null."""
    if isinstance(obj, dict):
        return {str(k): clean(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [clean(v) for v in obj]
    if isinstance(obj, float):
        return finite(obj)
    return obj


def start_engine() -> None:
    """Make the engine importable and keep every file the run writes in
    the work directory. A checkout without the engine has nothing to
    measure: exit non-zero before writing anything."""
    if not (harness.ROOT / "jsl_engine").is_dir():
        sys.exit(f"no jsl_engine package under {harness.ROOT}: nothing to measure")
    harness.prepare_work_dir()
    sys.path.append(str(harness.ROOT))
    from pyspark import cloudpickle

    # Python workers import the engine from the shipped zip, not this
    # directory: functions defined here travel by value
    cloudpickle.register_pickle_by_value(harness)


def measure(workload: str, seed: int, seconds: float, trace: bool,
            spec: dict, **size) -> "tuple[dict, dict]":
    """One run; returns (record, result). ``size`` overrides the input
    size (``rows`` for a job, ``queries`` and ``scale`` for the suite)."""
    record: dict = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": int(trace), "cpus": harness.cpus(),
        "load_avg_before": harness.load_avg(), "host_before": harness.host_probe(),
    }
    setup = make_setup(record, event_log=trace)
    if workload == "query_suite":
        import query_suite

        out = query_suite.run(seed, seconds, trace, setup, **size)
    else:
        import validation_jobs

        out = validation_jobs.run(workload, seed, seconds, trace, setup, **size)
    record["load_avg_after"] = harness.load_avg()
    record["host_after"] = harness.host_probe()

    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    values = {**out["metrics"], **out["layers"]}
    if trace:
        # a layer this workload never reaches did no work in it
        record["layers_not_reached"] = [
            m["name"] for m in wanted if m["name"] not in out["layers"]]
        values = {m["name"]: values.get(m["name"], 0) for m in wanted}
    metrics, missing = {}, []
    for m in wanted:
        v = finite(values.get(m["name"]))
        if v is None:
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)

    rec = out["record"]
    spans = rec.pop("spans", None)
    if spans is not None:
        path = harness.WORK / "traces" / f"{workload}-seed{seed}-{int(time.time())}.json"
        spans.write(path)
        rec["spans_file"] = str(path.relative_to(harness.ROOT))
    record.update(rec)
    record["end_to_end"] = out["metrics"]
    record["per_layer"] = out["layers"]
    return record, {
        "correct": out["failed"] == 0 and not missing,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()
    spec = load_spec()
    start_engine()
    try:
        record, result = measure(args.workload, args.seed, args.seconds,
                                 bool(args.trace), spec)
    finally:
        harness.stop_jvm()
    record["wall_s"] = time.perf_counter() - started
    print(json.dumps(clean(record), default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
