"""Per-partition manifest: lineage + metrics, idempotent resume.

North-rule requirement (BASELINE.json): jobs checkpoint per-partition
lineage/metrics to a manifest table and resume idempotently from the last
committed partition. The reference has no notion of this (single-process
library); the design is engine-native:

* work is partitioned by a bounded-cardinality **partition key** (repo
  prefix — :func:`jsl_engine.partitioning.partition_key`);
* each completed partition appends one manifest row carrying lineage
  (schema fingerprint, job id, config) and metrics (docs, ok/bad,
  violations, parse/depth errors);
* outputs are written partitioned by the same key with **dynamic partition
  overwrite**, so re-processing a partition replaces exactly its own files
  — a crashed run can be re-submitted as-is;
* resume = anti-join of all partitions against manifest rows with the same
  schema fingerprint (a schema change invalidates prior progress by
  construction).

Sandbox storage is Parquet directories; on a production cluster the same
protocol maps to Iceberg tables where the manifest append and data
overwrite become a single transaction.
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from jsl_engine.schema import Schema
from jsl_engine.spark_validate import validate_multi, violations

MANIFEST_SCHEMA = StructType(
    [
        StructField("part_key", StringType(), False),
        StructField("schema_fingerprint", StringType(), False),
        StructField("job_id", StringType(), False),
        StructField("committed_at", DoubleType(), False),
        StructField("n_docs", LongType(), False),
        StructField("n_ok", LongType(), False),
        StructField("n_bad", LongType(), False),
        StructField("n_violations", LongType(), False),
        StructField("n_parse_errors", LongType(), False),
        StructField("n_depth_errors", LongType(), False),
        # mergeable HLL sketch of content_sha256: global distinct-document
        # cardinality across all committed partitions (and across resumed
        # runs) comes from unioning manifest sketches — no data rescan
        StructField("content_hll", BinaryType(), True),
        # order-independent exact content signature of the partition:
        # bit_xor over xxhash64(*key_cols, content_sha256) — hashing the
        # (key, content) PAIR, not content alone, so reassigning existing
        # contents between documents still changes the signature. NULL on
        # detail rows and on manifests written before the column existed
        # (reads back NULL -> treated as changed, the safe direction).
        # This is what partition-level incremental pruning compares.
        StructField("content_sig", LongType(), True),
        # multi-schema (registry) runs: NULL on per-partition summary rows
        # (whose schema_fingerprint is the REGISTRY fingerprint — the
        # resume key) and the route value on per-schema detail rows
        # (whose schema_fingerprint is that route's schema fingerprint).
        # Single-schema runs leave it NULL everywhere; manifests written
        # before this column existed read back as NULL (nullable parquet
        # column absent from old files).
        StructField("schema_key", StringType(), True),
    ]
)


def registry_fingerprint(
    schemas: "dict[str, Schema]", default: "Schema | None" = None
) -> str:
    """Deterministic fingerprint of a whole schema registry — the resume
    key for multi-schema runs: any change to any route's schema (or the
    default) invalidates prior progress, exactly like a single schema
    change does."""
    import hashlib

    h = hashlib.blake2b(digest_size=16)
    for key in sorted(schemas):
        h.update(key.encode())
        h.update(schemas[key].fingerprint().encode())
    h.update(b"<default>")
    h.update(default.fingerprint().encode() if default is not None else b"-")
    return "multi:" + h.hexdigest()


def global_distinct_docs(
    spark: SparkSession, manifest_path: str, fingerprint: str | None = None
) -> int | None:
    """Estimated distinct documents across committed partitions, from the
    manifest's mergeable sketches alone (no scan of the data).

    The manifest is append-only, so a re-processed partition has multiple
    rows; only the **latest** sketch per ``part_key`` participates —
    stale sketches would resurrect documents that no longer exist. Pass
    ``fingerprint`` to scope the estimate to one schema's run (matching
    the resume semantics of :func:`committed_partitions`)."""
    m = read_manifest(spark, manifest_path).where(F.col("content_hll").isNotNull())
    if fingerprint is not None:
        m = m.where(F.col("schema_fingerprint") == fingerprint)
    from pyspark.sql import Window

    w = Window.partitionBy("part_key").orderBy(F.desc("committed_at"))
    latest = (
        m.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    row = latest.agg(
        F.hll_sketch_estimate(F.hll_union_agg("content_hll")).alias("d")
    ).first()
    return int(row["d"]) if row and row["d"] is not None else None


def content_sig_expr(key_cols: tuple[str, ...], hash_col: str = "content_sha256"):
    """THE per-partition exact-signature aggregate, defined once: the
    incremental prune compares the job-side value
    (:func:`run_validation_job`'s metrics) against the snapshot-side
    value (:func:`partition_signatures`), and any formula drift between
    the two sites would silently disable pruning forever (signatures
    never match → everything always "changed").

    Formula: ``xxhash64(bit_xor(h), sum(pmod(h, 1e9+7)))`` over
    ``h = xxhash64(*key_cols, hash_col)``. The xor term alone cancels
    even-multiplicity duplicate rows ({A, X, X} and {A, Y, Y} would
    collide), so the modular-sum term makes the signature
    multiplicity-sensitive; the modulus keeps the sum overflow-safe
    under ANSI arithmetic (< 2^30 per row → safe past 2^33 rows per
    partition). Formula v2 — manifests written by v1 re-validate once."""
    h = "xxhash64(" + ", ".join([*key_cols, hash_col]) + ")"
    return F.xxhash64(
        F.expr(f"bit_xor({h})"),
        F.expr(f"sum(pmod({h}, 1000000007))"),
    )


def partition_signatures(
    df: DataFrame,
    key_cols: tuple[str, ...],
    *,
    part_col: str = "part_key",
    hash_col: str = "content_sha256",
) -> DataFrame:
    """Per-partition exact content signature over a snapshot that carries
    a precomputed ``hash_col`` (ingestion writes content_sha256 alongside
    content — the engine's row invariant)::

        <part_col>, n_docs, content_sig

    Reads ONLY the key + hash columns (column-pruned; document bodies
    never move), aggregates map-side. The signature hashes the
    (keys, content-hash) pair per row and XORs — order-independent,
    exact, and sensitive to content reassignment between documents."""
    return df.groupBy(part_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        content_sig_expr(key_cols, hash_col).alias("content_sig"),
    )


def unchanged_partitions(
    spark: SparkSession,
    manifest_path: str,
    fingerprint: str,
    new_sigs: DataFrame,
) -> "set[str]":
    """Partition keys whose NEW snapshot signature equals the latest
    committed manifest summary row — safe to prune from an incremental
    re-validation (their verdict outputs are already on disk and provably
    current). Anything absent, NULL-signed (pre-signature manifests) or
    differing stays pending — the safe direction."""
    from pyspark.sql import Window

    m = (
        read_manifest(spark, manifest_path)
        .where(F.col("schema_fingerprint") == fingerprint)
        .where(F.col("schema_key").isNull())
        .where(F.col("content_sig").isNotNull())
    )
    w = Window.partitionBy("part_key").orderBy(F.desc("committed_at"))
    latest = (
        m.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("part_key", "n_docs", "content_sig")
    )
    match = latest.join(
        new_sigs.select(
            "part_key",
            F.col("n_docs").alias("__new_n"),
            F.col("content_sig").alias("__new_sig"),
        ),
        "part_key",
    ).where(
        (F.col("n_docs") == F.col("__new_n"))
        & (F.col("content_sig") == F.col("__new_sig"))
    )
    return {r.part_key for r in match.select("part_key").collect()}


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    """The manifest table, or an empty frame if no run has committed yet.

    Only the missing-path case maps to "nothing committed" — a corrupt or
    unreadable manifest must SURFACE, not silently re-validate the whole
    corpus and append a second commit log on top of the bad one."""
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return spark.createDataFrame([], MANIFEST_SCHEMA)
        raise


def committed_partitions(
    spark: SparkSession, manifest_path: str, fingerprint: str
) -> DataFrame:
    """Partition keys already committed for this exact schema (or, for
    registry runs, this exact registry fingerprint). Only summary rows
    (``schema_key`` NULL) participate: a registry run's per-route detail
    rows carry the route schemas' own fingerprints, and a later
    single-schema run over the same output_root with one of those
    schemas must NOT see the registry run's partitions as committed."""
    m = read_manifest(spark, manifest_path)
    return (
        m.where(F.col("schema_fingerprint") == fingerprint)
        .where(F.col("schema_key").isNull())
        .select("part_key")
        .distinct()
    )


def run_validation_job(
    spark: SparkSession,
    source: DataFrame,
    schema: "Schema | None",
    *,
    output_root: str,
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    part_prefix_len: int = 4,
    strict_instance_semantics: bool = False,
    repartition: int | None = None,
    curate: bool = False,
    lang_engine: str = "jvm",
    schemas: "dict[str, Schema] | None" = None,
    route_col: str = "lang",
    default_schema: "Schema | None" = None,
) -> dict:
    """One resumable pass: validate pending partitions, write verdicts +
    violations partitioned by ``part_key``, commit manifest rows.

    ``schemas`` switches the job to **schema-registry mode**: each row
    validates against ``schemas[route_col value]`` (``default_schema``
    for unmapped routes, else ``error='no_schema'``) through ONE
    broadcast + ONE mapInArrow pass
    (:func:`jsl_engine.spark_validate.validate_multi`; ``schema`` may be
    ``None``). The resume key becomes the registry fingerprint (any
    route's schema change invalidates prior progress), and the manifest
    gains per-route detail rows: for every partition one summary row
    (``schema_key`` NULL, registry fingerprint — what resume reads) plus
    one row per ``schema_key`` carrying that route's own schema
    fingerprint and verdict metrics.

    ``curate=True`` makes the validation stage the fused
    validation+curation pass (``validate_multi(..., curate=True)``,
    ``text_col = content_col``): the validated
    sink then also carries ``quality, lang_id, n_secrets, license`` per
    document at zero extra scans — the map-only curation columns ride
    the one content pass the job already pays for. Resume/manifest
    semantics are unchanged.

    Layout under ``output_root``::

        verdicts/   part_key=*/...   (one row per document)
        violations/ part_key=*/...   (one row per error)
        manifest/                    (append-only commit log)

    Returns a summary dict with partition and document counts.
    """
    # registry mode and the fused curate pass COMPOSE (round 5): the
    # per-route dispatch and the rider scorers share the one content
    # scan of validate_multi(..., curate=True)
    # EVERY flag that changes verdict semantics or sink layout is part of
    # the resume identity: a run resumed under a different strict mode,
    # key set, content column, partition-prefix width or curate flag
    # would silently skip work and leave ONE sink with mixed semantics
    # (or, for a prefix change, duplicate every document under new
    # part_key values) — same invariant that gives registry mode its own
    # fingerprint
    job_conf = (
        f"|k={','.join(key_cols)}|c={content_col}|p={part_prefix_len}"
        f"|s={int(strict_instance_semantics)}"
    )
    # the curate riders' lang_id column is engine-dependent (jvm vs
    # arrow diverge on exotic case mappings — the round-5 caveat), so
    # the engine choice is part of the resume identity whenever the
    # riders are in the sink; without curate it never reaches the sink
    fingerprint = (
        registry_fingerprint(schemas, default_schema)
        if schemas is not None
        else schema.fingerprint()
    ) + (f"+curate|le={lang_engine}" if curate else "") + job_conf
    manifest_path = f"{output_root}/manifest"
    job_id = uuid.uuid4().hex[:12]

    # NULL first-key rows get a sentinel partition instead of a NULL
    # part_key (which would crash the non-nullable manifest append after
    # the whole validation pass, and break the sorted() resume set) —
    # dirty corpora flow through and surface as a visible "__null__"
    # partition in the manifest
    keyed = source.withColumn(
        "part_key",
        F.coalesce(
            F.substring(F.col(key_cols[0]), 1, part_prefix_len),
            F.lit("__null__"),
        ),
    )
    # part_key cardinality is bounded by construction (fixed-width prefix),
    # so the pending set is collected to the driver and applied as an isin
    # filter: partition-prunable by Catalyst, and — unlike a broadcast join
    # on a derived distinct — never recomputed per downstream action.
    done_keys = {
        r.part_key
        for r in committed_partitions(spark, manifest_path, fingerprint).collect()
    }
    n_done = len(done_keys)
    if not done_keys:
        # first run: nothing committed, so every partition is pending — skip
        # the distinct scan over the source entirely (the per-partition
        # breakdown falls out of the metrics aggregation below)
        pending_keys: list[str] | None = None
        todo = keyed
    else:
        all_keys = {r.part_key for r in keyed.select("part_key").distinct().collect()}
        pending_keys = sorted(all_keys - done_keys)
        if not pending_keys:
            return {
                "job_id": job_id,
                "partitions_pending": 0,
                "partitions_committed": n_done,
                "docs": 0,
            }
        todo = keyed.where(F.col("part_key").isin(pending_keys))
    if repartition:
        # balanced exchange before the Python stage: salt on full key so a
        # monorepo prefix cannot pin a straggler task
        from jsl_engine.partitioning import repartition_salted

        todo = repartition_salted(todo, repartition, cols=key_cols)

    # one validation pass for all four modes: a registry job routes on
    # route_col, a single-schema job is the no-route case of the same
    # kernel; curate fuses the rider columns into that pass
    registry_mode = schemas is not None
    validated = validate_multi(
        todo,
        schemas if registry_mode else {},
        route_col=route_col if registry_mode else None,
        default=default_schema if registry_mode else schema,
        content_col=content_col,
        key_cols=("part_key",) + key_cols,
        strict_instance_semantics=strict_instance_semantics,
        curate=curate,
        text_col=content_col,
        lang_engine=lang_engine,
    )
    # Single Python pass: write the combined result (verdicts + nested
    # violations) once, then derive everything else from the SINK — a
    # columnar re-scan that reads only the narrow columns it needs. No
    # cache: at 10^12-file scale the result does not fit in memory, and in
    # local mode a multi-GB cache next to 32 task threads is a GC storm.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    validated.write.mode("overwrite").partitionBy("part_key").parquet(
        f"{output_root}/validated"
    )

    try:
        done_data = spark.read.parquet(f"{output_root}/validated")
    except AnalysisException:
        # an empty source's write leaves only _SUCCESS (no footers to
        # infer a schema from): a scheduled job over a not-yet-populated
        # table must no-op cleanly, not crash after the write
        done_data = spark.createDataFrame([], validated.schema)
    if pending_keys is not None:
        done_data = done_data.where(F.col("part_key").isin(pending_keys))

    # the two derived passes are independent scans of the columnar sink
    # (violations reads keys + the nested array; metrics reads the narrow
    # verdict columns) — run them as concurrent actions so the scheduler
    # overlaps their stages (on a cluster they fill idle executors; in
    # local mode this saves about a third of the derive wall time).
    # Metrics are aggregated per part_key — a bounded-cardinality row set —
    # and collected, so manifest totals below come from memory instead of
    # re-reading the (ever-growing) manifest table twice.
    #
    # COMMIT ORDERING INVARIANT: the manifest append happens strictly
    # AFTER both derived outputs exist — only the metrics *computation*
    # (a collect) overlaps the violations write. A partition whose
    # violations write failed must stay pending, otherwise a resumed run
    # would skip it and the violations dataset would silently lack its
    # rows forever.
    committed_at = time.time()
    metric_rows: list = []

    def write_violations() -> None:
        violations(done_data, key_cols=("part_key",) + key_cols).write.mode(
            "overwrite"
        ).partitionBy("part_key").parquet(f"{output_root}/violations")

    def _verdict_aggs(with_hll: bool):
        aggs = [
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
            F.sum((~F.col("ok")).cast("long")).alias("n_bad"),
            F.sum("n_errors").cast("long").alias("n_violations"),
            # sum(NULL == x) over all-ok groups is NULL, not 0
            F.coalesce(
                F.sum((F.col("error") == "json_parse_error").cast("long")),
                F.lit(0),
            ).alias("n_parse_errors"),
            F.coalesce(
                F.sum((F.col("error") == "max_depth_exceeded").cast("long")),
                F.lit(0),
            ).alias("n_depth_errors"),
        ]
        if with_hll:
            aggs.append(
                F.hll_sketch_agg(F.col("content_sha256"), F.lit(12)).alias(
                    "content_hll"
                )
            )
            # exact per-partition signature for incremental pruning —
            # computed in the same metrics aggregation (no extra scan);
            # MUST stay the shared content_sig_expr (see its docstring)
            aggs.append(content_sig_expr(key_cols).alias("content_sig"))
        return aggs

    def compute_metrics() -> None:
        metrics = (
            done_data.groupBy("part_key")
            .agg(*_verdict_aggs(with_hll=True))
            .withColumn("schema_fingerprint", F.lit(fingerprint))
            .withColumn("job_id", F.lit(job_id))
            .withColumn("committed_at", F.lit(committed_at))
            .withColumn("schema_key", F.lit(None).cast("string"))
            .select([f.name for f in MANIFEST_SCHEMA.fields])
        )
        metric_rows.extend(metrics.collect())
        if schemas is not None:
            # per-route detail rows: each carries the ROUTE's own schema
            # fingerprint; content_hll stays NULL so the summary row is
            # the unique sketch holder per partition (global_distinct_docs
            # picks one latest row per part_key)
            fp_map = F.create_map(
                *[
                    x
                    for key, s in sorted(schemas.items())
                    for x in (F.lit(key), F.lit(s.fingerprint()))
                ]
            )
            default_fp = (
                default_schema.fingerprint()
                if default_schema is not None
                else "no_schema"
            )
            detail = (
                done_data
                # a NULL route value must not produce a detail row with
                # schema_key NULL — that is the summary row's signature,
                # so it would be double-counted in the job totals AND
                # falsely satisfy a later single-schema run's
                # committed_partitions (schema_key IS NULL + matching
                # route fingerprint) — the exact resume contamination the
                # summary/detail split exists to prevent
                .withColumn(
                    "schema_key",
                    F.coalesce(F.col("schema_key"), F.lit("<null_route>")),
                )
                .groupBy("part_key", "schema_key")
                .agg(*_verdict_aggs(with_hll=False))
                .withColumn(
                    "schema_fingerprint",
                    F.coalesce(fp_map[F.col("schema_key")], F.lit(default_fp)),
                )
                .withColumn("job_id", F.lit(job_id))
                .withColumn("committed_at", F.lit(committed_at))
                .withColumn("content_hll", F.lit(None).cast("binary"))
                .withColumn("content_sig", F.lit(None).cast("long"))
                .select([f.name for f in MANIFEST_SCHEMA.fields])
            )
            metric_rows.extend(detail.collect())

    import threading

    failures: list[BaseException] = []

    def guarded(fn) -> None:
        try:
            fn()
        except BaseException as exc:  # propagate to the caller, never swallow
            failures.append(exc)

    threads = [
        threading.Thread(target=guarded, args=(write_violations,)),
        threading.Thread(target=guarded, args=(compute_metrics,)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if failures:
        raise failures[0]
    # commit LAST: every derived output above succeeded
    spark.createDataFrame(metric_rows, MANIFEST_SCHEMA).write.mode(
        "append"
    ).parquet(manifest_path)

    summary_rows = [r for r in metric_rows if r.schema_key is None]
    return {
        "job_id": job_id,
        "partitions_pending": (
            len(summary_rows) if pending_keys is None else len(pending_keys)
        ),
        "partitions_committed": n_done,
        "docs": sum(r.n_docs for r in summary_rows),
        "docs_ok": sum(r.n_ok for r in summary_rows),
        "fingerprint": fingerprint,
    }
