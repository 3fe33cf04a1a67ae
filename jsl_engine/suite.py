"""The complete data-quality suite: one call running every engine check
over a source-code table.

This is the "complete system" composition the north rule describes: JSL
per-document validation plus every table-level check, sharing one scan of
the source where possible. Each component is an independently tested
operator (:mod:`jsl_engine.spark_validate`, :mod:`jsl_engine.table_checks`);
the suite wires them with the partitioning/broadcast strategy appropriate
at 10^12-file scale:

* validation runs once over the salted source and is cached; verdict
  aggregates, violation rows, and per-partition metrics are projections;
* uniqueness shuffles on (repo, path, commit);
* referential integrity broadcasts the commits dimension;
* drift operators run over bounded aggregates (per-partition counts /
  histograms), never over raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsl_engine import table_checks as tc
from jsl_engine.schema import Schema
from jsl_engine.spark_validate import validate_df, verdicts, violations


def run_quality_suite(
    spark: SparkSession,
    source: DataFrame,
    schema: Schema,
    commits: DataFrame | None = None,
    *,
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    content_col: str = "content",
    part_prefix_len: int = 4,
    strict_instance_semantics: bool = False,
    curate: bool = False,
    lang_engine: str = "jvm",
) -> dict:
    """Run validation + uniqueness + RI + stats + drift; returns a dict of
    result DataFrames plus a scalar ``summary``.

    The caller owns the lifetime of the returned frames; ``validated`` is
    cached — call ``report["validated"].unpersist()`` when done.

    ``curate=True`` makes the validation stage the fused
    validation+curation pass (``validate_df(..., curate=True)``) —
    ``validated`` (and hence ``verdicts``) then also carries
    ``quality, lang_id, n_secrets, license`` per
    document at zero extra scans, and the summary gains
    ``avg_quality``/``docs_with_secret``. ``lang_engine="arrow"``
    forwards to the fused pass's numpy language kernel (same verdicts,
    ~2.5× the rate — see :mod:`jsl_engine.lang_arrow`).
    """
    keyed = source.withColumn(
        "part_key", F.substring(F.col(key_cols[0]), 1, part_prefix_len)
    )

    validated = validate_df(
        keyed,
        schema,
        content_col=content_col,
        key_cols=("part_key",) + key_cols,
        strict_instance_semantics=strict_instance_semantics,
        curate=curate,
        text_col=content_col,
        lang_engine=lang_engine,
    ).cache()

    report: dict = {
        "validated": validated,
        "verdicts": verdicts(validated, key_cols=("part_key",) + key_cols),
        "violations": violations(validated, key_cols=("part_key",) + key_cols),
        "duplicates": tc.duplicate_keys(source, list(key_cols)),
        "lang_stats": tc.string_column_stats(source, ["lang"]),
        "content_stats": tc.numeric_column_stats(
            source.withColumn("content_len", F.length(content_col)), ["content_len"]
        ),
        "lang_drift_chi2": tc.chi_square_drift(keyed, "lang", "part_key"),
        "size_drift_ks": tc.ks_drift_binned(
            keyed.withColumn("content_len", F.length(content_col)),
            "content_len",
            "part_key",
        ),
    }
    if commits is not None:
        report["ri_violations"] = tc.ri_violations(
            source, commits, ["repo", "commit"]
        ).select(*key_cols)

    v = validated.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col("ok").cast("long")).alias("ok"),
        F.sum("n_errors").cast("long").alias("violations"),
        F.sum((F.col("error") == "json_parse_error").cast("long")).alias("parse_errors"),
    ).first()
    if curate:
        c = validated.agg(
            F.round(F.avg("quality"), 6).alias("avg_quality"),
            F.sum((F.col("n_secrets") > 0).cast("long")).alias("docs_with_secret"),
        ).first()
    report["summary"] = {
        **(
            {"avg_quality": c["avg_quality"],
             "docs_with_secret": c["docs_with_secret"]}
            if curate else {}
        ),
        "docs": v["docs"],
        "docs_ok": v["ok"],
        "docs_bad": v["docs"] - v["ok"],
        "violation_rows": v["violations"],
        "parse_errors": v["parse_errors"],
        "duplicate_keys": report["duplicates"].count(),
        "ri_violations": report["ri_violations"].count() if commits is not None else None,
        "schema_fingerprint": schema.fingerprint(),
    }
    return report
