"""Arrow-batched JSL validation over Spark DataFrames.

The distributed analogue of the reference's validate-many loop
(reference: src/lib.rs:36-44): the schema is compiled **once** on the driver
(:func:`jsl_engine.schema.compile_schema`), shipped to executors as a
broadcast of plain tuples, compiled **once per executor process** into
fast-path closures (:mod:`jsl_engine.fastcheck`), then applied to Arrow
batches of documents inside ``mapInArrow`` — no per-row Python UDFs, no
per-row pandas object conversion (key columns pass through as Arrow
buffers zero-copy; the content sha256 is computed in the same kernel),
no schema re-parsing per row or per batch. One kernel serves both the
single-schema (:func:`validate_df`) and the schema-registry
(:func:`validate_multi`) entry points, with or without the fused
curation riders (``curate=True``).

Two-phase evaluation per document:

1. ``json.loads`` + compiled fast check (bool, short-circuit, no paths);
2. only rejected documents re-run the full kernel
   (:func:`jsl_engine.kernel.validate_node`) for exact
   ``(instance_path, schema_path)`` pairs (reference: src/vm.rs:302-319).

Output is **one row per document** with violations as a nested array —
derived flat views (:func:`verdicts`, :func:`violations`) are plain
projections, so neither requires a shuffle or a second validation pass.

Engine extensions beyond the reference (documented verdict taxonomy):

* ``error='json_parse_error'`` — the reference takes pre-parsed values
  (reference: src/validator.rs:41-45); a table engine must classify
  unparseable ``content`` itself;
* ``error='max_depth_exceeded'`` — the reference's hard failure with no
  error rows (reference: src/validator.rs:80-91) becomes a distinguished
  verdict row.
"""

from __future__ import annotations

from typing import Any, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from jsl_engine.errors import MaxDepthExceeded
from jsl_engine.fastcheck import compile_check
from jsl_engine.kernel import validate_node
from jsl_engine.schema import Schema, plan_payload


# serde_json-parity parsing lives in jsl_engine.jsonio (shared with the
# driver-side schema compiler); the kernel resolves these module globals
# per call
from jsl_engine.jsonio import PARSE_ERROR as _PARSE_ERROR
from jsl_engine.jsonio import exceeds_nesting, parse_document

#: Appended to the pass-through key columns in the validation output.
RESULT_FIELDS = [
    StructField("ok", BooleanType(), False),
    StructField("n_errors", IntegerType(), False),
    StructField("error", StringType(), True),
    StructField("content_sha256", StringType(), True),
    StructField(
        "violations",
        ArrayType(
            StructType(
                [
                    StructField("instance_path", StringType(), False),
                    StructField("schema_path", StringType(), False),
                ]
            )
        ),
        True,
    ),
]

#: Arrow type of the ``violations`` column the kernel builds.
_VIOLATIONS_TYPE = pa.list_(
    pa.struct(
        [pa.field("instance_path", pa.string(), nullable=False),
         pa.field("schema_path", pa.string(), nullable=False)]
    )
)

# Per-executor-process cache of compiled checkers, keyed by
# (schema fingerprint, strict, max_depth): compile once, validate many.
_CHECKER_CACHE: dict[tuple, tuple] = {}


def _get_checker(payload: dict, strict: bool, max_depth: int):
    key = (payload["fingerprint"], strict, max_depth)
    hit = _CHECKER_CACHE.get(key)
    if hit is None:
        check = compile_check(
            payload["form"], payload["defs"], strict=strict, max_depth=max_depth
        )
        hit = (check, payload["form"], payload["defs"])
        _CHECKER_CACHE[key] = hit
    return hit


def _validate_batch(
    contents: list,
    payload: dict,
    strict: bool,
    max_errors: int,
    max_depth: int,
    max_nesting: int | None = None,
) -> tuple[list, list, list, list]:
    """Validate one Arrow batch of JSON strings; returns parallel columns
    (ok, n_errors, error, violations)."""
    check, form, defs = _get_checker(payload, strict, max_depth)
    parse = parse_document
    sentinel = _PARSE_ERROR
    ok_col: list[bool] = []
    n_col: list[int] = []
    err_col: list[Any] = []
    vio_col: list[Any] = []
    for content in contents:
        doc = parse(content)
        if doc is not sentinel and max_nesting is not None and isinstance(
            doc, (dict, list)
        ) and exceeds_nesting(doc, max_nesting):
            # serde_json parity: the reference's parser rejects instances
            # nested past its 128-level recursion limit before the VM runs
            doc = sentinel
        if doc is sentinel:
            ok_col.append(False)
            n_col.append(0)
            err_col.append("json_parse_error")
            vio_col.append(None)
            continue
        try:
            if check(doc, 1):
                ok_col.append(True)
                n_col.append(0)
                err_col.append(None)
                vio_col.append(None)
            else:
                errors = validate_node(
                    form,
                    defs,
                    doc,
                    max_errors=max_errors,
                    max_depth=max_depth,
                    strict_instance_semantics=strict,
                )
                ok_col.append(False)
                n_col.append(len(errors))
                err_col.append(None)
                vio_col.append(
                    [
                        {"instance_path": e.instance_path, "schema_path": e.schema_path}
                        for e in errors
                    ]
                )
        except MaxDepthExceeded:
            # hard failure, no error rows (reference: src/validator.rs:80-91)
            ok_col.append(False)
            n_col.append(0)
            err_col.append("max_depth_exceeded")
            vio_col.append(None)
        except RecursionError:
            # a ~1000+-deep *instance* exhausts Python's recursion limit in
            # the tree walk. Classify as json_parse_error — in the
            # reference pipeline serde_json's 128-level recursion limit
            # makes any such instance a parse error before the VM runs, so
            # this is the taxonomy-consistent bucket (max_depth_exceeded is
            # the schema-side ref-hop guard, a different failure). Classify
            # instead of crashing the task — one absurd document must not
            # fail a 10^12-row job. For exact 128-level parity pass
            # max_nesting=128 (off by default: the depth walk is O(nodes)
            # on a ~1 µs/doc hot path).
            ok_col.append(False)
            n_col.append(0)
            err_col.append("json_parse_error")
            vio_col.append(None)
    return ok_col, n_col, err_col, vio_col


def _validate_routed(
    contents: list,
    routes: "pa.Array | None",
    registry: dict,
    default: "dict | None",
    *opts,
) -> tuple[list, list, list, list]:
    """Validate one batch against the payload each row's route selects
    (``default`` for an unmapped or NULL route; ``error='no_schema'``
    when that is ``None`` too); ``opts`` are :func:`_validate_batch`'s
    trailing arguments.

    Without a route column (``routes is None``) the whole content list
    goes through a single :func:`_validate_batch` call: no per-row route
    list, grouping, gather or scatter on the single-schema hot path
    (those cost +15-24% per document). A routed batch is grouped by
    route value."""
    n = len(contents)
    if routes is None:
        if default is None:
            return [False] * n, [0] * n, ["no_schema"] * n, [None] * n
        return _validate_batch(contents, default, *opts)
    ok, nerr = [False] * n, [0] * n
    err: list = [None] * n
    vio: list = [None] * n
    idx_by_route: dict = {}
    for i, r in enumerate(routes.to_pylist()):
        idx_by_route.setdefault(r, []).append(i)
    for r, idxs in idx_by_route.items():
        o2, n2, e2, v2 = _validate_routed(
            [contents[i] for i in idxs], None, registry,
            registry.get(r, default), *opts,
        )
        for j, i in enumerate(idxs):
            ok[i], nerr[i], err[i], vio[i] = o2[j], n2[j], e2[j], v2[j]
    return ok, nerr, err, vio


def _validation_pass(
    df: DataFrame,
    registry: "dict[str, Schema]",
    default: "Schema | None",
    route_col: "str | None",
    *,
    content_col: str,
    key_cols: tuple[str, ...],
    strict_instance_semantics: bool,
    max_errors: int,
    max_depth: int,
    max_nesting: "int | None",
    curate: bool,
    text_col: str,
    lang_engine: str,
) -> DataFrame:
    """The one validation stage behind :func:`validate_df` and
    :func:`validate_multi`: prune the input (with ``curate``, behind the
    rider chain of :func:`_curation_riders`), broadcast every compiled
    plan once, and run ONE mapInArrow pass emitting
    ``*key_cols, [schema_key,] ok, n_errors, error, content_sha256,
    violations`` — ``schema_key`` (the route value as a string) only
    when there is a ``route_col``."""
    if route_col is None and registry:
        raise ValueError("a schema registry needs a route_col")
    if curate:
        df = _curation_riders(
            df, text_col=text_col, content_col=content_col,
            k0=key_cols[0], rest=tuple(key_cols[1:]),
            lang_engine=lang_engine,
            extra_carry=(route_col,) if route_col is not None else (),
        )
        key_cols = tuple(key_cols) + ("quality", "lang_id", "n_secrets", "license")
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((
        {k: plan_payload(s) for k, s in registry.items()},
        plan_payload(default) if default is not None else None,
    ))
    from jsl_engine import jsonio as _jsonio

    driver_parser = _jsonio.PARSER

    # Catalyst sees the UDF as a black box, so input pruning is explicit
    routed = route_col is not None
    pruned = df.select(
        *[F.col(c) for c in key_cols],
        *([F.col(route_col).cast("string").alias("schema_key")] if routed else []),
        F.col(content_col).alias("__content"),
    )
    out_schema = StructType(
        [pruned.schema[c] for c in key_cols]
        + ([StructField("schema_key", StringType(), True)] if routed else [])
        + RESULT_FIELDS
    )
    out_names = out_schema.fieldNames()
    n_pass = len(key_cols) + routed  # pass-through columns before __content
    opts = (strict_instance_semantics, max_errors, max_depth, max_nesting)

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        # mapInArrow, not mapInPandas: key columns pass through as Arrow
        # buffers untouched (zero-copy); only the content column is
        # materialized as Python strings for json.loads. This halves the
        # per-row overhead vs converting every column to pandas objects
        # and back.
        import hashlib

        from jsl_engine.jsonio import require_parser

        require_parser(driver_parser)  # fail fast on mixed environments
        registry_local, default_local = bc.value
        sha256 = hashlib.sha256
        for batch in batches:
            contents = batch.column(n_pass).to_pylist()
            ok, nerr, err, vio = _validate_routed(
                contents, batch.column(n_pass - 1) if routed else None,
                registry_local, default_local, *opts,
            )
            sha = [None if c is None else sha256(c.encode()).hexdigest()
                   for c in contents]
            yield pa.RecordBatch.from_arrays(
                batch.columns[:n_pass] + [
                    pa.array(ok, pa.bool_()),
                    pa.array(nerr, pa.int32()),
                    pa.array(err, pa.string()),
                    pa.array(sha, pa.string()),
                    pa.array(vio, _VIOLATIONS_TYPE),
                ],
                out_names,
            )

    return pruned.mapInArrow(run, out_schema)


def _curation_riders(
    df: DataFrame,
    *,
    text_col: str,
    content_col: str,
    k0: str,
    rest: tuple[str, ...],
    lang_engine: str,
    extra_carry: tuple[str, ...] = (),
) -> DataFrame:
    """The map-only scorer chain (secret scan → quality score →
    language id → license scan) threaded through each operator's
    ``keep_cols`` passthrough — ONE implementation feeding every
    ``curate=True`` pass, single-schema or registry, so there is never
    a fused copy of a scorer to drift. ``extra_carry`` columns (e.g. the
    registry route column) survive to the final projection."""
    from jsl_engine.code_ops import license_scan
    from jsl_engine.redaction import secret_scan
    from jsl_engine.text_ops import language_id, quality_score

    if lang_engine == "arrow":
        # balance=False: the fused pass's contract is ONE scan with zero
        # Exchanges (plan-gated) — input conditioning for small inputs
        # is the CALLER's concern here, not the rider's
        import functools

        from jsl_engine.lang_arrow import language_id_arrow

        language_id = functools.partial(  # noqa: F811
            language_id_arrow, balance=False
        )
    elif lang_engine != "jvm":
        raise ValueError(f"lang_engine must be 'jvm' or 'arrow', got {lang_engine!r}")

    def dedup(cols: tuple[str, ...]) -> tuple[str, ...]:
        seen: list[str] = []
        for c in cols:
            if c not in seen and c != k0:
                seen.append(c)
        return tuple(seen)

    carry = dedup(rest + extra_carry + (text_col, content_col))
    cur = secret_scan(df, text_col=text_col, id_col=k0, keep_cols=carry).select(
        k0, "n_secrets", *carry
    )
    cur = quality_score(
        cur, text_col, k0, keep_cols=dedup(("n_secrets",) + carry)
    )
    cur = language_id(
        cur, text_col, k0, keep_cols=dedup(("quality", "n_secrets") + carry)
    )
    return license_scan(
        cur, text_col=text_col, id_col=k0,
        keep_cols=dedup(
            ("lang_id", "quality", "n_secrets")
            + rest + extra_carry + (content_col,)
        ),
    )


def validate_df(
    df: DataFrame,
    schema: Schema,
    *,
    content_col: str = "content",
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    strict_instance_semantics: bool = False,
    max_errors: int = 0,
    max_depth: int = 32,
    max_nesting: int | None = None,
    curate: bool = False,
    text_col: str = "text",
    lang_engine: str = "jvm",
) -> DataFrame:
    """Validate every row's ``content_col`` against a compiled root schema.

    Returns one row per input row::

        *key_cols, ok, n_errors, error, content_sha256, violations

    The content sha256 (``hashlib.sha256(content.encode()).hexdigest()``
    == ``F.sha2(content, 256)`` — the per-row invariant against the
    reference harness) is computed INSIDE the Arrow kernel since r8: as
    a JVM projection Catalyst pushed it *below* the caller's fan-out
    repartition, so on a single-split input every hash ran on the one
    scan task AND the exchange carried hash + content both; in-kernel it
    runs on the post-exchange parallelism and the shuffle carries only
    keys + content (guide §2.3 — plans/r08/jsl_validate_events_*.txt).

    Catalyst sees the UDF as a black box, so input pruning is explicit:
    only ``key_cols + (content,)`` enter the Arrow exchange.

    ``max_nesting=128`` opts into exact serde_json deep-instance parity
    (instances nested past the limit become ``json_parse_error``); the
    default ``None`` skips the O(nodes) depth walk on the hot path — see
    :mod:`jsl_engine.jsonio` for the documented divergence window.

    Every executor batch asserts it resolved the same JSON parser
    (orjson vs stdlib) as the driver, so a mixed-environment cluster
    fails fast instead of mixing verdict semantics within one job.

    ``curate=True`` is the fused validation + curation pass: ONE content
    scan produces the JSL verdicts **and** every map-only curation
    column, inserted after the key columns::

        *key_cols, quality, lang_id, n_secrets, license, ok, ...

    At 10^12 files the corpus scan dominates every map-only operator, so
    quality scoring, language ID, secret counting and license
    classification ride along with the validation pass instead of each
    re-reading 100 TB: the curation columns are computed in the JVM
    projection *before* the mapInArrow validation stage and pass through
    the Arrow exchange as zero-copy key columns. The whole job is a
    single stage — one scan, zero joins, zero shuffles (plan-gated in
    ``tests/test_spark_validate.py``). The riders are scored on
    ``text_col``, which may equal ``content_col`` (source-code corpora:
    the code IS the validated content); ``key_cols[0]`` is their id.

    Each rider column is the exact output of its standalone operator
    (:func:`jsl_engine.text_ops.quality_score` /
    :func:`~jsl_engine.text_ops.language_id`,
    :func:`jsl_engine.redaction.secret_scan`,
    :func:`jsl_engine.code_ops.license_scan`) — the fusion chains them
    through their ``keep_cols`` passthroughs, so there is one
    implementation of every scorer, not a fused copy.

    ``lang_engine="arrow"`` swaps the language stage for the numpy
    kernel (:func:`jsl_engine.lang_arrow.language_id_arrow` — ~2.5× the
    JVM rate, BENCH/ANALYSIS.md round 4, parity-pinned in
    tests/test_lang_arrow.py): the dominant rider becomes a second
    Arrow stage in the same single-scan plan — still zero joins, zero
    shuffles."""
    return _validation_pass(
        df, {}, schema, None,
        content_col=content_col, key_cols=key_cols,
        strict_instance_semantics=strict_instance_semantics,
        max_errors=max_errors, max_depth=max_depth, max_nesting=max_nesting,
        curate=curate, text_col=text_col, lang_engine=lang_engine,
    )


def validate_multi(
    df: DataFrame,
    schemas: "dict[str, Schema]",
    *,
    route_col: "str | None" = "lang",
    default: "Schema | None" = None,
    content_col: str = "content",
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    strict_instance_semantics: bool = False,
    max_errors: int = 0,
    max_depth: int = 32,
    max_nesting: int | None = None,
    curate: bool = False,
    text_col: str = "text",
    lang_engine: str = "jvm",
) -> DataFrame:
    """Schema-registry validation: each row validates against the schema
    selected by its ``route_col`` value (per-language/per-dataset
    schemas — the multi-tenant shape a real validation service runs).
    Output adds ``schema_key`` (the route value) to
    :func:`validate_df`'s columns; rows whose route has no schema and no
    ``default`` get ``ok=false, error='no_schema'``. ``route_col=None``
    (with an empty registry) is exactly :func:`validate_df` against
    ``default``, without ``schema_key`` — so a caller switching between
    the two modes makes one call.

    Execution shape: ONE broadcast carries every compiled plan, ONE
    mapInArrow pass groups each batch by route value and runs each group
    through the vectorized `_validate_batch`, hitting the
    per-executor checker cache keyed by schema fingerprint. No
    per-schema scans, no join against a registry table, and adding a
    schema is a broadcast refresh, not a plan change.

    ``curate``, ``text_col`` and ``lang_engine`` fuse the curation
    riders into the same scan exactly as in :func:`validate_df`; the
    rider columns come before ``schema_key``."""
    return _validation_pass(
        df, schemas, default, route_col,
        content_col=content_col, key_cols=key_cols,
        strict_instance_semantics=strict_instance_semantics,
        max_errors=max_errors, max_depth=max_depth, max_nesting=max_nesting,
        curate=curate, text_col=text_col, lang_engine=lang_engine,
    )


def verdicts(validated: DataFrame, key_cols: tuple[str, ...] = ("repo", "path", "commit")) -> DataFrame:
    """Per-document verdict view — a pure projection (no shuffle)."""
    return validated.select(*key_cols, "ok", "n_errors", "error", "content_sha256")


def violations(validated: DataFrame, key_cols: tuple[str, ...] = ("repo", "path", "commit")) -> DataFrame:
    """Exploded violation rows: one row per (document, error) — matches the
    reference's ``Vec<ValidationError>`` flattened across the table."""
    return (
        validated.where(F.col("violations").isNotNull() & (F.size("violations") > 0))
        .select(*key_cols, F.explode("violations").alias("v"))
        .select(*key_cols, F.col("v.instance_path").alias("instance_path"),
                F.col("v.schema_path").alias("schema_path"))
    )
