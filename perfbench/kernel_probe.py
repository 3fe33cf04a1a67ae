"""Kernel sub-layer probe: the engine's own per-batch Arrow kernel (the
function ``spark_validate.validate_df``/``validate_multi`` hands to
``mapInArrow``), run on the driver, one core, over batches of Spark's
Arrow batch size.

Untimed, the kernel is taken from the engine as it is: the validation
function is called on a stand-in DataFrame that keeps the function it is
given instead of planning a Spark job. Every figure then comes from that
function running:

- ``kernel.batch_us``: the whole kernel, untraced, per document (the
  faster of two untraced passes, one before and one after the traced
  pass);
- ``jsonio.parse_us``, ``fastcheck.check_us``, ``kernel.hash_us`` and
  ``kernel.rerun_us``: traced splits of the same kernel. For the length
  of the traced pass, the functions it calls per document
  (``jsonio.parse_document``, the compiled fast check,
  ``hashlib.sha256``, and ``kernel.validate_node`` on a fast-check
  reject) are wrapped in timers; the timer's own cost per call is
  measured and taken off;
- ``kernel.other_us``: the untraced kernel less those splits, that is
  the content column's ``to_pylist``, the per-document bookkeeping, the
  ``encode``/``hexdigest`` around the hash and the Arrow build of the
  output batch, which the engine does not call through functions of its
  own.

Parsed documents are dropped after every batch, and the driver's own
objects are frozen out of the collector while the probe runs: a collector
walking a large heap on every allocation burst inflated parse from 0.96
to 3.8 µs/doc in an earlier probe. An executor's Python worker holds
little besides the batch, so this is the state the kernel runs in.
"""

from __future__ import annotations

import gc
import hashlib
import time
from contextlib import contextmanager, nullcontext

import pyarrow as pa

from jsl_engine import spark_validate

from harness import ARROW_BATCH_ROWS


class _Broadcast:
    def __init__(self, value) -> None:
        self.value = value


class _StandIn:
    """What the validation functions use of a DataFrame: its session's
    ``broadcast``, ``select`` and ``mapInArrow``. It keeps the function
    passed to ``mapInArrow``."""

    def __init__(self) -> None:
        self.sparkSession = self
        self.sparkContext = self
        self.kernel = None

    def broadcast(self, value) -> _Broadcast:
        return _Broadcast(value)

    def select(self, *cols) -> "_StandIn":
        return self

    def mapInArrow(self, fn, schema) -> "_StandIn":
        self.kernel = fn
        return self


def engine_kernel(default=None, schemas=None, route: str | None = None):
    """The engine's per-batch kernel for one schema (``validate_df``) or,
    with ``route``, a registry (``validate_multi``), with no key columns:
    it takes batches of ``[content]`` or ``[route, content]``. Needs an
    active Spark session (the engine builds its column expressions)."""
    df = _StandIn()
    if route is None:
        spark_validate.validate_df(df, default, key_cols=())
    else:
        spark_validate.validate_multi(df, schemas, route_col=route,
                                      default=default, key_cols=())
    return df.kernel


def batches(table: pa.Table, columns: list, limit: int | None = None) -> list:
    """``columns`` of the first ``limit`` rows of ``table``, in batches of
    Spark's Arrow batch size."""
    if limit is not None:
        table = table.slice(0, limit)
    return table.select(columns).combine_chunks().to_batches(
        max_chunksize=ARROW_BATCH_ROWS)


def _timed(fn, split: list):
    """``fn`` that adds its seconds and one call to ``split``."""
    clock = time.perf_counter

    def call(*args, **kw):
        t = clock()
        try:
            return fn(*args, **kw)
        finally:
            split[0] += clock() - t
            split[1] += 1

    return call


def _timer_cost(n: int = 200_000) -> float:
    """Seconds a timed call adds to its own split, per call."""
    split = [0.0, 0]
    f = _timed(lambda x: x, split)
    for i in range(n):
        f(i)
    return split[0] / n


@contextmanager
def _traced(splits: dict):
    """Wrap the functions the kernel calls per document in timers."""
    sv = spark_validate
    saved = (sv.parse_document, sv.validate_node, sv._get_checker, hashlib.sha256)
    get_checker = sv._get_checker

    def timed_checker(payload, strict, max_depth):
        check, form, defs = get_checker(payload, strict, max_depth)
        return _timed(check, splits["check"]), form, defs

    sv.parse_document = _timed(sv.parse_document, splits["parse"])
    sv.validate_node = _timed(sv.validate_node, splits["rerun"])
    sv._get_checker = timed_checker
    hashlib.sha256 = _timed(hashlib.sha256, splits["hash"])
    try:
        yield
    finally:
        sv.parse_document, sv.validate_node, sv._get_checker, hashlib.sha256 = saved


def _drain(kernel, bs: list) -> None:
    for _ in kernel(iter(bs)):
        pass


def probe(runs: list) -> dict:
    """Time ``(kernel, batches)`` pairs: untraced, traced, untraced.
    Returns µs per document for each step, µs per re-run document, and
    counts."""
    docs = sum(b.num_rows for _, bs in runs for b in bs)
    for kernel, bs in runs:
        _drain(kernel, bs[:1])  # compiles the checkers, as a task's first batch does
    cost = _timer_cost()
    splits = {k: [0.0, 0] for k in ("parse", "check", "rerun", "hash")}
    clock = time.perf_counter
    gc.collect()
    gc.freeze()
    try:
        untraced = []
        for traced in (False, True, False):
            t = clock()
            with _traced(splits) if traced else nullcontext():
                for kernel, bs in runs:
                    _drain(kernel, bs)
            if not traced:
                untraced.append(clock() - t)
        whole = min(untraced)
    finally:
        gc.unfreeze()
    own = {k: s - cost * n for k, (s, n) in splits.items()}
    rejected = splits["rerun"][1]
    per_doc = 1e6 / max(docs, 1)
    return {
        "kernel.batch_us": whole * per_doc,
        "jsonio.parse_us": own["parse"] * per_doc,
        "fastcheck.check_us": own["check"] * per_doc,
        "kernel.hash_us": own["hash"] * per_doc,
        "kernel.other_us": (whole - sum(own.values())) * per_doc,
        "kernel.rerun_us": own["rerun"] * 1e6 / max(rejected, 1),
        "fastcheck.reject_frac": rejected / max(docs, 1),
        "kernel.rerun_docs": rejected,
    }
