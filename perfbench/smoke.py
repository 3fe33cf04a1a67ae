"""Smoke run of the benchmark at a tiny size (10k documents per job, three
suite queries on tables at sf0.001 row counts), in one process, in about
three minutes on local[4]:

    python3 perfbench/smoke.py

It checks that every workload, untraced and traced, emits every metric of
``BENCHMARK.json`` by name with its unit, passes its correctness gate, and
reaches its own layers; then that a corrupted job output and a corrupted
query result each trip the gate. Exits non-zero on the first failure.
"""

from __future__ import annotations

import shutil
import sys
import uuid
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402
import run  # noqa: E402

SEED = 7
ROWS = 10_000
#: Suite tables at 1/100 of the measured (sf0.1) row counts.
SCALE = 0.01
#: One Arrow-kernel query, one table check, one dedup query: the traced
#: suite's kernel layers need a validation query.
QUERIES = ("jsl_verdicts_docs", "uniqueness_lineitem", "minhash_near_dup_documents")


def fail(msg: str) -> None:
    sys.exit(f"smoke: FAIL: {msg}")


def own_layers(workload: str, spec: dict) -> list[str]:
    """Layer metrics a workload measures itself (the rest read 0)."""
    other = "manifest." if workload == "query_suite" else "q."
    names = [m["name"] for m in spec["per_layer"] if not m["name"].startswith(other)]
    if workload == "query_suite":
        names = [n for n in names if not n.startswith("q.")
                 or n.split(".")[1] in QUERIES]
    return names


def check_metrics(spec: dict) -> None:
    for workload, size in (("job_clean", {"rows": ROWS}),
                           ("job_registry_dirty", {"rows": ROWS}),
                           ("query_suite", {"queries": QUERIES, "scale": SCALE})):
        for trace in (False, True):
            record, result = run.measure(workload, SEED, 1, trace, spec, **size)
            tag = f"{workload} trace={int(trace)}"
            if not result["correct"] or result["failed"]:
                fail(f"{tag}: {result['failed']} of {result['attempted']} calls failed")
            wanted = spec["per_layer" if trace else "end_to_end"]
            for m in wanted:
                got = result["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    fail(f"{tag}: metric {m['name']} [{m['unit']}] emitted as {got}")
            if trace:
                unreached = set(record["layers_not_reached"]) & set(own_layers(workload, spec))
                if unreached:
                    fail(f"{tag}: layers not measured: {sorted(unreached)}")
            print(f"smoke: {tag}: {len(wanted)} metrics, "
                  f"{result['attempted']} calls, gate ok", flush=True)


def _rewrite(path: Path, column: str, fn) -> None:
    """Replace ``column`` of one parquet file with ``fn(table)``."""
    table = pq.read_table(path)
    i = table.schema.get_field_index(column)
    pq.write_table(table.set_column(i, column, fn(table)), path)


def check_job_gate(spark) -> None:
    import validation_jobs

    w = validation_jobs.JobWorkload("job_clean", SEED, ROWS)
    w.prepare()
    w.bind(spark)
    root = str(harness.WORK / "out" / f"smoke-{uuid.uuid4().hex}")
    try:
        summary = w.full_job(root)
        problems = w.gate(root, summary)
        if problems:
            fail(f"clean job output fails the gate: {problems}")
        # one sampled row's content hash
        path = next(iter(w.sample))
        for f in Path(root, "validated").rglob("*.parquet"):
            if path in pq.read_table(f, columns=["path"]).column(0).to_pylist():
                _rewrite(f, "content_sha256", lambda t: pc.if_else(
                    pc.equal(t["path"], path), "0" * 64, t["content_sha256"]))
                break
        if not any("content_sha256" in p for p in w.gate(root, summary)):
            fail("a corrupted content_sha256 passes the gate")
        # the manifest's accepted-document count
        for f in Path(root, "manifest").glob("*.parquet"):
            _rewrite(f, "n_ok", lambda t: pc.add(t["n_ok"], 1))
            break
        if not any("manifest docs_ok" in p for p in w.gate(root, summary)):
            fail("a corrupted manifest passes the gate")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print("smoke: corrupted job outputs trip the gate", flush=True)


def check_suite_gate(spark) -> None:
    import query_suite

    w = query_suite.SuiteWorkload(SEED, QUERIES[1:2], SCALE)
    w.prepare()
    w.bind(spark)
    name = QUERIES[1]
    df = w.query(name)
    cols, rows = sorted(df.columns), df.collect()
    problems = w.gate({name: [(cols, rows)]})
    if problems:
        fail(f"clean query result fails the gate: {problems}")
    if name not in w.gate({name: [(cols, rows[1:])]}):
        fail("a query result missing a row passes the gate")
    print("smoke: a corrupted query result trips the gate", flush=True)


def main() -> int:
    spec = run.load_spec()
    run.start_engine()
    try:
        check_metrics(spec)
        spark = harness.build_session(event_log=False)
        try:
            check_job_gate(spark)
            check_suite_gate(spark)
        finally:
            spark.stop()
    finally:
        harness.stop_jvm()
    print("smoke: PASS")
    return 0


if __name__ == "__main__":
    sys.exit(main())
