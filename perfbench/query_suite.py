"""Query-suite workload: closed-loop passes over a fixed subset of
``__spark_entry__.queries()`` on seeded tables, one query at a time, each
collected, with ``clearCache()`` + ``gc.collect()`` between queries as
``bench.py`` does.

It covers the table-check, dedup and ANN operators that the validation
jobs never touch, so it is the bypass workload for a kernel or sink
change. Set-up runs one unmeasured pass over the measured tables, which
pays for generating and compiling the queries' code and starts the
Python workers. With the JVM on C1 (see ``harness.build_session``) the
measured passes after it are flat (minhash 3.74, 3.73 s), so they time
execution. A warm-up pass over a 1/100 copy of the tables instead left
the first measured pass 10-60% slower per query than the second.
"""

from __future__ import annotations

import gc
import math
import sys
import time
import traceback
from collections import Counter

import duckdb
import pyarrow.parquet as pq

import __spark_entry__ as entry
from tools.check_oracle import TABLES, norm

import inputs
import kernel_probe
from harness import WORK, EventLog, HostSpeed, RssSampler, Tracer, cpu_times, median, steal_frac, timed

#: The measured subset, in registry order: one validation query per
#: table (``validate_multi`` on events, violations on documents; the
#: ``validate_df`` and verdict paths are measured by ``job_clean``), and
#: per operator family the query an open performance item names (the
#: table-check collect floor, the verified near-dup tail, the embedding
#: near-dup carry-over). All 50 queries take ~90 s cold and ~45 s warm on
#: local[4]; every comparison makes 22 runs of each workload, and the
#: other two validation queries made a run ~9 s longer.
QUERIES = (
    "jsl_validate_multi",
    "jsl_violations_docs",
    "uniqueness_lineitem",
    "minhash_near_dup_documents",
    "embedding_near_dup_embeddings",
)

#: Measured passes per run, at the least; a run measures for ``--seconds``
#: and then finishes the pass it is in. Per-query times are medians over
#: the passes.
MIN_PASSES = 2

#: Validation query -> the table whose rows it validates.
VALIDATION_INPUT = {
    "jsl_validate_events": "events", "jsl_validate_multi": "events",
    "jsl_verdicts_docs": "documents", "jsl_violations_docs": "documents",
}


class SuiteWorkload:
    def __init__(self, seed: int, queries=QUERIES, scale: float = 1.0) -> None:
        self.seed, self.scale = seed, scale
        registry = entry.queries()
        self.fns = {q: registry[q] for q in queries}

    def prepare(self) -> None:
        self.sf = inputs.ensure_suite_tables(str(WORK), self.seed, self.scale)
        self.rows = {t: pq.ParquetFile(f"{self.sf}/{t}.parquet").metadata.num_rows
                     for t in TABLES}

    def bind(self, spark) -> None:
        self.spark = spark

    def warm_up(self) -> None:
        """One unmeasured pass."""
        for fn in self.fns.values():
            fn(self.spark, self.sf).collect()
            self.settle()

    def query(self, name: str):
        return self.fns[name](self.spark, self.sf)

    def settle(self) -> None:
        self.spark.catalog.clearCache()
        gc.collect()

    # -- correctness gate -----------------------------------------------------

    def gate(self, results: dict) -> dict:
        """Compare every collected result with its ``oracle_sql()`` on
        DuckDB, value by value as ``tools/check_oracle.py`` does (floats to
        6 places, NULL as None, rows in any order); returns, per query, the
        problems found. A result whose raw rows equal those of a result of
        the same query that already passed, passes too."""
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf}/{t}.parquet')")
            oracles = entry.oracle_sql()
            problems = {}
            for name, collected in results.items():
                ddf = con.execute(oracles[name]).fetchdf()
                dcols = sorted(ddf.columns)
                want = [tuple(norm(v) for v in row) for row in zip(
                    *([None if isinstance(v, float) and math.isnan(v) else v
                       for v in ddf[c].tolist()] for c in dcols))]
                passed: list = []
                for cols, rows in collected:
                    if cols != dcols:
                        problems.setdefault(name, []).append(f"columns {cols} != {dcols}")
                        continue
                    if any(same_rows(rows, p) for p in passed):
                        continue
                    at = [rows[0].__fields__.index(c) for c in cols] if rows else []
                    got = [tuple(norm(r[i]) for i in at) for r in map(tuple, rows)]
                    if same_rows(got, want):
                        passed.append(rows)
                    else:
                        problems.setdefault(name, []).append(
                            f"{len(got)} rows differ from {len(want)} oracle rows")
            return problems
        finally:
            con.close()


def same_rows(a: list, b: list) -> bool:
    """Whether two lists hold the same rows, in any order."""
    if len(a) != len(b):
        return False
    try:
        return Counter(a) == Counter(b)
    except TypeError:  # an unhashable value: sort, as check_oracle does
        return sorted(a, key=repr) == sorted(b, key=repr)


class Passes:
    """Closed-loop passes over the subset, one query at a time; a query
    that raises counts as failed and has no time. With a tracer, passes
    alternate untraced collect, traced collect, untraced collect, traced
    noop: the untraced passes bracket the traced collect, so a JVM still
    warming up speeds both sides alike. Without a tracer, a reference call
    (``harness.HostSpeed``) follows every query."""

    def __init__(self, w: SuiteWorkload, tracer: Tracer | None = None,
                 host: HostSpeed | None = None) -> None:
        self.w, self.tracer, self.host = w, tracer, host
        self.times: dict[str, list[float]] = {q: [] for q in w.fns}
        self.wall: dict[str, list[float]] = {q: [] for q in w.fns}
        self.traced: dict[str, list[float]] = {q: [] for q in w.fns}
        self.noop: dict[str, float] = {}
        self.results: dict[str, list] = {q: [] for q in w.fns}
        self.attempted = self.failed = 0

    def _one(self, name: str, sink: str, traced: bool) -> None:
        """One query, built and run as ``bench.py`` times it: building the
        DataFrame can run Spark jobs of its own (checkpoints, collects)."""
        self.attempted += 1

        def call():
            df = self.w.query(name)
            if sink == "noop":
                df.write.format("noop").mode("overwrite").save()
                return None
            return sorted(df.columns), df.collect()

        try:
            if traced:
                with self.tracer.span(span_name(name, sink)):
                    d, wall, out = timed(call)
            else:
                d, wall, out = timed(call)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return
        finally:
            self.w.settle()
            if self.host is not None:
                self.host.sample()
        if sink == "noop":
            self.noop[name] = d
            return
        self.results[name].append(out)
        if traced:
            self.traced[name].append(d)
        else:
            self.times[name].append(d)
            self.wall[name].append(wall)

    def one_pass(self, sink: str = "collect", traced: bool = False) -> None:
        for name in self.w.fns:
            self._one(name, sink, traced)

    def run(self, seconds: float, min_passes: int = MIN_PASSES) -> None:
        start, cpu = time.perf_counter(), cpu_times()
        if self.tracer is not None:
            self.one_pass()
            self.one_pass(traced=True)
            self.one_pass()
            self.one_pass("noop", traced=True)
        else:
            passes = 0
            while passes < min_passes or time.perf_counter() - start < seconds:
                passes += 1
                self.one_pass()
        self.steal_frac = steal_frac(cpu, cpu_times())


def span_name(query: str, sink: str) -> str:
    return f"q.{query}.{'s' if sink == 'collect' else 'noop_s'}"


def per_query(times: dict) -> dict:
    return {q: median(ts) for q, ts in times.items() if ts}


def end_to_end(w: SuiteWorkload, times: dict, factor: float = 1.0) -> dict:
    """Throughputs, with times divided by
    ``factor`` (``HostSpeed.factor()`` for ``ref_s``)."""
    per = {q: t / factor for q, t in per_query(times).items()}
    jsl = [q for q in VALIDATION_INPUT if q in per]
    return {
        "work_per_ref_s": len(per) / sum(per.values()),
        "validate_files_per_ref_s": sum(w.rows[VALIDATION_INPUT[q]] for q in jsl)
        / sum(per[q] for q in jsl),
    }


def run(seed: int, seconds: float, trace: bool, setup, queries=QUERIES,
        scale: float = 1.0) -> dict:
    w = SuiteWorkload(seed, queries, scale)
    spark, setup_s = setup(w)
    tracer = Tracer() if trace else None
    host = None
    if not trace:
        host = HostSpeed(spark)
        host.warm_up()
    passes = Passes(w, tracer, host)
    scans: dict = {}
    with RssSampler() as rss:
        if trace:
            for t in TABLES:
                with tracer.span("scan", table=t):
                    scans[t] = timed(spark.read.parquet(f"{w.sf}/{t}.parquet")
                                     .write.format("noop").mode("overwrite").save)[0]
        passes.run(seconds)
    factor = host.factor() if host else float("nan")
    metrics = {"setup_s": setup_s, "peak_rss_mb": rss.peak_bytes / 2**20,
               **end_to_end(w, passes.times, factor)}
    per = per_query(passes.times)
    rec: dict = {
        "queries": list(w.fns),
        "suite_s": sum(per.values()),
        "query_p50_s": median(list(per.values())),
        "per_query_s": per,
        "query_s": passes.times,
        "host_factor": factor, "ref_s": host.times if host else [],
        "unstolen": end_to_end(w, passes.times),
        "wall": end_to_end(w, passes.wall),
        "per_query_wall_s": per_query(passes.wall),
        "steal_frac": passes.steal_frac,
        "samples": {"query_times": sum(len(t) for t in passes.times.values()),
                    "passes": max((len(t) for t in passes.times.values()), default=0)},
    }
    layers: dict = {}
    if trace:
        app_id = spark.sparkContext.applicationId
        layers.update(_kernel_layers(w, tracer))
        spark.stop()
        layers.update(suite_layers(w, EventLog(app_id), passes, scans))
        rec["spans"] = tracer
    else:
        spark.stop()
    t = time.perf_counter()
    problems = w.gate(passes.results)
    rec["gate_s"] = time.perf_counter() - t
    if problems:
        print(f"gate: {problems}", file=sys.stderr)
    failed = passes.failed + sum(len(v) for v in problems.values())
    rec["failed_ops_frac"] = failed / max(passes.attempted, 1)
    rec["gate_problems"] = problems
    return {"metrics": metrics, "layers": layers, "record": rec,
            "attempted": passes.attempted, "failed": failed}


def _kernel_layers(w: SuiteWorkload, tracer: Tracer) -> dict:
    """Kernel probe over the documents the suite's validation queries
    validate: events.props and the documents-derived JSON corpus."""
    from jsl_engine.schema import compile_schema

    docs = w.spark.read.parquet(f"{w.sf}/documents.parquet").select(
        entry._docs_json_content().alias("content")).toArrow()
    events = pq.read_table(f"{w.sf}/events.parquet", columns=["props"])
    runs = [
        (kernel_probe.engine_kernel(compile_schema(entry.EVENTS_PROPS_SCHEMA)),
         kernel_probe.batches(events, ["props"])),
        (kernel_probe.engine_kernel(compile_schema(entry.DOCS_JSON_SCHEMA)),
         kernel_probe.batches(docs, ["content"])),
    ]
    with tracer.span("kernel_probe"):
        return kernel_probe.probe(runs)


def suite_layers(w: SuiteWorkload, log: EventLog, p: Passes, scans: dict) -> dict:
    jsl = [q for q in VALIDATION_INPUT if q in p.noop]
    traced = per_query(p.traced)
    window = {s["name"]: (s["start"], s["end"]) for s in p.tracer.spans}
    shuffle = spill = 0
    for q in traced:
        s, sp = log.task_totals(*window[span_name(q, "collect")])
        shuffle += s
        spill += sp
    out = {
        "trace.overhead_frac": sum(traced.values()) / sum(per_query(p.times).values()) - 1,
        "scan.s": sum(scans.values()),
        "spark_validate.kernel_s": sum(p.noop[q] - scans[VALIDATION_INPUT[q]] for q in jsl),
        "spark_validate.task_skew": median(
            [log.kernel_skew(*window[span_name(q, "noop")]) for q in jsl]),
        "spark.shuffle_write_bytes": shuffle,
        "spark.spill_bytes": spill,
    }
    for q in w.fns:
        out[f"q.{q}.s"] = traced.get(q, float("nan"))
        out[f"q.{q}.noop_s"] = p.noop.get(q, float("nan"))
    return out
