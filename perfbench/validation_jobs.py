"""Validation-job workloads: ``manifest.run_validation_job`` on a generated
corpus, closed loop, one call at a time.

``job_clean`` is the production shape: one schema, 2% defects, so the
fast check accepts ~98% of documents and the kernel fast path plus the
sink dominate. ``job_registry_dirty`` runs the same layers differently:
per-route dispatch in ``validate_multi`` (python/rust/go strict, java/c
lax, js on the default schema), 30% defects, so about a quarter of the
documents take the kernel re-run and the derive write carries ~10x the
violation rows. A fast-path gain that costs the reject path shows on the
second and not the first.
"""

from __future__ import annotations

import hashlib
import random
import shutil
import sys
import time
import traceback
import uuid

import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from jsl_engine.corpus import CODE_FILE_SCHEMA, make_row
from jsl_engine.manifest import run_validation_job
from jsl_engine.schema import compile_schema
from jsl_engine.spark_validate import validate_df, validate_multi

import inputs
import kernel_probe
from harness import WORK, EventLog, HostSpeed, RssSampler, Tracer, cpu_times, cpus, median, steal_frac, timed

#: Documents per job: small enough that a run, set-up included, stays
#: near 60 s on local[4], since every comparison makes 22 runs of each
#: workload.
ROWS = 50_000

#: (validation into noop, full job) pairs per run, at the least; a run
#: measures for ``--seconds`` and then finishes the pair it is in.
MIN_PAIRS = 4

#: Validations into noop per untraced pair: one validation (~0.75 s)
#: varies by ~7% from call to call, and every run measures only a few.
VALIDATES_PER_PAIR = 2

#: Unmeasured pairs in set-up. The first job in a session pays the write
#: path's first use (~10 s against ~3.2 s warm); with the JVM on C1 (see
#: ``harness.build_session``) the job after it is within ~8% of the rest.
WARM_PAIRS = 2

WORKLOADS = {
    "job_clean": {"defect_rate": 0.02, "registry": False},
    "job_registry_dirty": {"defect_rate": 0.30, "registry": True},
}

#: Documents the traced run's kernel probe times (five Arrow batches).
PROBE_DOCS = 50_000

#: Rows the gate checks one by one (hash and verdict), per run.
SAMPLE_ROWS = 48
SAMPLE_DEFECTS = 16


class JobWorkload:
    def __init__(self, name: str, seed: int, rows: int = ROWS) -> None:
        conf = WORKLOADS[name]
        self.name, self.seed, self.rows = name, seed, rows
        self.defect_rate = conf["defect_rate"]
        self.registry = conf["registry"]
        self.schema = compile_schema(CODE_FILE_SCHEMA)
        lax = compile_schema({})
        self.schemas = {r: self.schema for r in inputs.STRICT_ROUTES}
        self.schemas.update({r: lax for r in inputs.LAX_ROUTES})

    # -- inputs (not timed) -------------------------------------------------

    def prepare(self) -> None:
        self.path = inputs.ensure_corpus(
            str(WORK), self.rows, self.defect_rate, self.seed, files=cpus() * 4,
        )
        self.expected = inputs.expected_job_totals(
            inputs.expected_totals(self.rows, self.defect_rate, self.seed),
            self.registry,
        )
        self.input_bytes = inputs.dir_bytes(self.path)[1]
        self.sample = self._sample_rows()

    def bind(self, spark) -> None:
        self.spark = spark
        self.source = spark.read.parquet(self.path)

    def _sample_rows(self) -> dict:
        """Seeded rows to check one by one: random ones plus the first
        defective rows after a random start, so the clean corpus still
        puts every verdict path under the gate."""
        rnd = random.Random(self.seed)
        ids = set(rnd.sample(range(self.rows), SAMPLE_ROWS))
        i, found = rnd.randrange(self.rows), 0
        while found < SAMPLE_DEFECTS:
            i = (i + 1) % self.rows
            if inputs.defect_plan(i, self.seed, self.defect_rate)[1] is not None:
                ids.add(i)
                found += 1
        out = {}
        for i in ids:
            repo, path, commit, lang, content = make_row(i, self.seed, self.defect_rate)
            defect = inputs.defect_plan(i, self.seed, self.defect_rate)[1]
            lax = self.registry and lang in inputs.LAX_ROUTES
            if defect == inputs.PARSE_DEFECT:
                verdict = (False, 0, "json_parse_error")
            elif defect is not None and not lax:
                verdict = (False, 1, None)
            else:
                verdict = (True, 0, None)
            out[path] = (hashlib.sha256(content.encode()).hexdigest(), verdict)
        return out

    # -- the calls under measurement -----------------------------------------

    def validate_only(self) -> None:
        if self.registry:
            out = validate_multi(self.source, self.schemas, route_col="lang",
                                 default=self.schema)
        else:
            out = validate_df(self.source, self.schema)
        out.write.format("noop").mode("overwrite").save()

    def scan(self) -> None:
        self.source.write.format("noop").mode("overwrite").save()

    def full_job(self, root: str) -> dict:
        if self.registry:
            return run_validation_job(
                self.spark, self.source, None, output_root=root,
                schemas=self.schemas, route_col="lang", default_schema=self.schema,
            )
        return run_validation_job(self.spark, self.source, self.schema, output_root=root)

    def warm_up(self) -> None:
        """``WARM_PAIRS`` (validation into a noop sink, full-size job into a
        throwaway root) pairs. The first job in a session pays the write
        path's first use (measured 17 s against ~4 s warm at 100k docs on
        local[4])."""
        for _ in range(WARM_PAIRS):
            self.validate_only()
            root = str(WORK / "out" / f"warm-{uuid.uuid4().hex}")
            try:
                self.full_job(root)
            finally:
                shutil.rmtree(root, ignore_errors=True)

    # -- correctness gate (outside the timed region) ---------------------------

    def gate(self, root: str, summary: dict) -> list[str]:
        """Problems with one job's output; empty when it is correct."""
        exp = self.expected
        problems = []
        for key in ("docs", "docs_ok"):
            if summary.get(key) != exp[key]:
                problems.append(f"summary {key}={summary.get(key)} expected {exp[key]}")
        m = pq.read_table(f"{root}/manifest").to_pylist()
        rows = [r for r in m if r["schema_key"] is None]
        got = {
            "docs": sum(r["n_docs"] for r in rows),
            "docs_ok": sum(r["n_ok"] for r in rows),
            "n_parse_errors": sum(r["n_parse_errors"] for r in rows),
            "n_violations": sum(r["n_violations"] for r in rows),
        }
        self.last_manifest = got
        for key, want in exp.items():
            if got[key] != want:
                problems.append(f"manifest {key}={got[key]} expected {want}")
        table = ds.dataset(f"{root}/validated", format="parquet",
                           partitioning="hive").to_table(
            columns=["path", "content_sha256", "ok", "n_errors", "error"],
            filter=pc.field("path").isin(list(self.sample)),
        )
        seen = {r["path"]: r for r in table.to_pylist()}
        for path, (sha, verdict) in self.sample.items():
            r = seen.get(path)
            if r is None:
                problems.append(f"row {path} missing from the sink")
            elif r["content_sha256"] != sha:
                problems.append(f"row {path} content_sha256 mismatch")
            elif (r["ok"], r["n_errors"], r["error"]) != verdict:
                problems.append(f"row {path} verdict {(r['ok'], r['n_errors'], r['error'])} expected {verdict}")
        return problems


class Loop:
    """Closed loop of (validation into noop, full job) pairs, one call at a
    time, each job's output gated and removed before the next call. With a
    tracer, pairs alternate traced (a noop scan of the input, then the pair,
    each call in a span) and untraced, starting and ending traced: a JVM
    still warming up then speeds both sides alike. Without a tracer, a
    reference call (``harness.HostSpeed``) follows every call. Times are
    unstolen seconds (``harness.unstolen``); untraced wall times are kept
    too."""

    def __init__(self, w: JobWorkload, tracer: Tracer | None = None,
                 host: HostSpeed | None = None) -> None:
        self.w, self.tracer, self.host = w, tracer, host
        kinds = ("scan", "validate", "job")
        self.times: dict[str, list[float]] = {k: [] for k in kinds}
        self.wall: dict[str, list[float]] = {k: [] for k in kinds}
        self.traced: dict[str, list[float]] = {k: [] for k in kinds}
        self.attempted = self.failed = 0
        self.sink: list[tuple[int, int]] = []

    def _call(self, kind: str, traced: bool, fn, *args):
        self.attempted += 1
        try:
            if traced:
                with self.tracer.span(kind, op=self.attempted) as span:
                    d, wall, out = timed(fn, *args)
                    span["unstolen"] = d / wall
            else:
                d, wall, out = timed(fn, *args)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None, None, None
        if kind != "job":
            self._add(kind, traced, d, wall)
        return d, wall, out

    def _add(self, kind: str, traced: bool, d: float, wall: float) -> None:
        if traced:
            self.traced[kind].append(d)
        else:
            self.times[kind].append(d)
            self.wall[kind].append(wall)

    def pair(self, traced: bool) -> None:
        w = self.w
        if traced:
            self._call("scan", True, w.scan)
        for _ in range(1 if traced else VALIDATES_PER_PAIR):
            self._call("validate", traced, w.validate_only)
        self.reference()
        root = str(WORK / "out" / uuid.uuid4().hex)
        try:
            d, wall, summary = self._call("job", traced, w.full_job, root)
            if d is None:
                return
            problems = w.gate(root, summary)
            if problems:
                self.failed += 1
                print(f"gate: {problems[:5]}", file=sys.stderr)
                return
            self._add("job", traced, d, wall)
            self.sink.append(inputs.dir_bytes(root))
        finally:
            shutil.rmtree(root, ignore_errors=True)
        self.reference()

    def reference(self) -> None:
        if self.host is not None:
            self.host.sample()

    def run(self, seconds: float, min_pairs: int = MIN_PAIRS) -> None:
        tracing = self.tracer is not None
        if tracing:
            min_pairs = 2 * min_pairs - 1
        start, cpu = time.perf_counter(), cpu_times()
        pairs = 0
        while (pairs < min_pairs or time.perf_counter() - start < seconds
               or (tracing and pairs % 2 == 0)):
            self.pair(traced=tracing and pairs % 2 == 0)
            pairs += 1
        self.steal_frac = steal_frac(cpu, cpu_times())


def end_to_end(w: JobWorkload, times: dict, factor: float = 1.0) -> dict:
    """Throughputs, with times divided by
    ``factor`` (``HostSpeed.factor()`` for ``ref_s``)."""
    return {
        "work_per_ref_s": w.rows * factor / median(times["job"]),
        "validate_files_per_ref_s": w.rows * factor / median(times["validate"]),
    }


def run(name: str, seed: int, seconds: float, trace: bool, setup,
        rows: int = ROWS) -> dict:
    """One benchmark run of a job workload; ``setup`` builds the session
    and times set-up around the workload's warm-up."""
    w = JobWorkload(name, seed, rows)
    spark, setup_s = setup(w)
    tracer = Tracer() if trace else None
    host = None
    if not trace:
        host = HostSpeed(spark)
        host.warm_up()
    with RssSampler() as rss:
        loop = Loop(w, tracer, host)
        loop.run(seconds)
    factor = host.factor() if host else float("nan")
    metrics = {"setup_s": setup_s, "peak_rss_mb": rss.peak_bytes / 2**20,
               **end_to_end(w, loop.times, factor)}
    rec: dict = {
        "rows": w.rows, "defect_rate": w.defect_rate, "expected": w.expected,
        "input_bytes": w.input_bytes,
        "files_per_s": w.rows / median(loop.times["job"]),
        "op_p50_s": median(loop.times["job"]),
        "host_factor": factor, "ref_s": host.times if host else [],
        "unstolen": end_to_end(w, loop.times),
        "wall": end_to_end(w, loop.wall),
        "sink_bytes_per_input_byte": median([b for _, b in loop.sink]) / w.input_bytes,
        "samples": {k: len(v) for k, v in loop.times.items() if v},
        "steal_frac": loop.steal_frac,
        "job_s": loop.times["job"], "validate_s": loop.times["validate"],
        "job_wall_s": loop.wall["job"], "validate_wall_s": loop.wall["validate"],
    }
    layers: dict = {}
    if trace:
        route = "lang" if w.registry else None
        kernel = kernel_probe.engine_kernel(w.schema, w.schemas, route)
        table = pq.read_table(w.path, columns=["lang", "content"])
        cols = ["lang", "content"] if route else ["content"]
        with tracer.span("kernel_probe"):
            layers.update(kernel_probe.probe(
                [(kernel, kernel_probe.batches(table, cols, PROBE_DOCS))]))
        app_id = spark.sparkContext.applicationId
        spark.stop()
        layers.update(job_layers(w, EventLog(app_id), loop))
        rec["spans"] = tracer
    else:
        spark.stop()
    rec["failed_ops_frac"] = loop.failed / max(loop.attempted, 1)
    return {"metrics": metrics, "layers": layers, "record": rec,
            "attempted": loop.attempted, "failed": loop.failed}


def job_layers(w: JobWorkload, log: EventLog, loop: Loop) -> dict:
    """Layer metrics of the traced calls. Sink write, derive and commit are
    the SQL executions inside each job's window, told apart by the write
    target their plan names (derive: the violations write and the
    manifest-metrics aggregation, which run concurrently)."""
    validate = median(loop.traced["validate"])
    spans = {k: [(s["start"], s["end"], s["unstolen"]) for s in loop.tracer.spans
                 if s["name"] == k and "unstolen" in s] for k in ("validate", "job")}
    sink, derive, commit = [], [], []
    shuffle = spill = 0
    for start, end, keep in spans["job"]:
        execs = log.executions_in(start, end)
        sink.append(keep * sum(x["end"] - x["start"] for x in execs if x["target"] == "validated"))
        commit.append(keep * sum(x["end"] - x["start"] for x in execs if x["target"] == "manifest"))
        d = [x for x in execs if x["target"] == "violations" or "hll_sketch_agg" in x["plan"]]
        derive.append(keep * (max(x["end"] for x in d) - min(x["start"] for x in d)) if d else 0.0)
        s, p = log.task_totals(start, end)
        shuffle += s
        spill += p
    n_jobs = max(len(spans["job"]), 1)
    files, size = loop.sink[-1] if loop.sink else (0, 0)
    return {
        "trace.overhead_frac": median(loop.traced["job"]) / median(loop.times["job"]) - 1,
        "scan.s": median(loop.traced["scan"]),
        "spark_validate.kernel_s": validate - median(loop.traced["scan"]),
        "spark_validate.task_skew": median(
            [log.kernel_skew(a, b) for a, b, _ in spans["validate"]]),
        "manifest.sink_write_s": median(sink) - validate,
        "manifest.derive_s": median(derive),
        "manifest.commit_s": median(commit),
        "manifest.sink_files": files,
        "manifest.sink_bytes": size,
        "manifest.violation_rows": getattr(w, "last_manifest", {}).get("n_violations", 0),
        "spark.shuffle_write_bytes": shuffle / n_jobs,
        "spark.spill_bytes": spill / n_jobs,
    }
