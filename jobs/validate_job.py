"""End-to-end validation job: synthetic source-code table → resumable
validation → verdicts/violations/manifest, with throughput measurement.

This is the ``spark-submit --py-files`` entry point of the engine (the
north rule's deployment shape). One invocation = one measurement at one
parallelism level; the scaling harness (tools/run_scaling.py) invokes it
at local[N] and local[4N] on the same input and reports efficiency.

Usage::

    python jobs/validate_job.py --rows 200000 --cpus 8 [--input DIR]
        [--output DIR] [--defect-rate 0.02] [--strict] [--keep-output]

Prints one JSON line: rows, seconds, files_per_sec, verdict counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from jsl_engine.corpus import CODE_FILE_SCHEMA, generate_corpus
from jsl_engine.manifest import run_validation_job
from jsl_engine.partitioning import get_spark
from jsl_engine.schema import compile_schema
from jsl_engine.spark_validate import validate_df


def ensure_input(spark, input_dir: str, rows: int, defect_rate: float) -> str:
    """Materialize the corpus to parquet once (measurement reads from disk,
    like the production Iceberg scan — generation is not timed)."""
    path = os.path.join(input_dir, f"corpus_{rows}_{defect_rate}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        generate_corpus(
            spark, rows, seed=42, defect_rate=defect_rate,
            partitions=max(32, rows // 50_000),
        ).write.mode("overwrite").parquet(path)
    return path


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=int(os.environ.get("JSL_BENCH_ROWS", "200000")))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    ap.add_argument("--input", default=os.path.join(tempfile.gettempdir(), "jsl_bench_input"))
    ap.add_argument("--output", default=None)
    ap.add_argument("--defect-rate", type=float, default=0.02)
    ap.add_argument("--strict", action="store_true")
    ap.add_argument("--curate", action="store_true",
                    help="fused pass: quality/lang_id/n_secrets/license "
                         "ride the validation scan (zero extra scans)")
    ap.add_argument("--schemas", action="store_true",
                    help="schema-registry mode: per-lang schema map "
                         "(python/rust/go strict, java/c lax, js via the "
                         "default fallback), one broadcast + one pass; "
                         "manifest gains per-route detail rows; combine "
                         "with --curate for riders in the same scan")
    ap.add_argument("--keep-output", action="store_true")
    args = ap.parse_args()

    spark = get_spark(
        master=f"local[{args.cpus}]",
        app_name=f"jsl-validate-{args.cpus}",
        shuffle_partitions=args.cpus * 2,
        extra_conf={
            "spark.ui.enabled": "false",
            # finer scan splits → balanced waves for the Python stage
            "spark.sql.files.maxPartitionBytes": "33554432",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    input_path = ensure_input(spark, args.input, args.rows, args.defect_rate)
    output_root = args.output or tempfile.mkdtemp(prefix="jsl_out_")
    source = spark.read.parquet(input_path)
    schema = compile_schema(CODE_FILE_SCHEMA)

    # warm the Python workers so the timed region measures steady-state
    # throughput, not interpreter cold starts — on a long-lived cluster the
    # workers are already warm. The repartition matters: a bare limit()
    # collapses to one partition and would warm exactly one worker.
    validate_df(
        source.limit(args.cpus * 256).repartition(args.cpus), schema
    ).count()

    t0 = time.time()
    # no pre-validation repartition: parquet scan splits are already
    # size-balanced by maxPartitionBytes, so an extra full shuffle of the
    # content column buys nothing (salting matters for skewed-key aggs,
    # not for the embarrassingly parallel validation map)
    if args.schemas:
        lax = compile_schema({})
        registry = {"python": schema, "rust": schema, "go": schema,
                    "java": lax, "c": lax}
        summary = run_validation_job(
            spark,
            source,
            None,
            output_root=output_root,
            strict_instance_semantics=args.strict,
            schemas=registry,
            route_col="lang",
            default_schema=schema,
            # --schemas --curate composes: riders fuse into the same
            # registry-dispatch scan (validate_multi(..., curate=True))
            curate=args.curate,
        )
    else:
        summary = run_validation_job(
            spark,
            source,
            schema,
            output_root=output_root,
            strict_instance_semantics=args.strict,
            curate=args.curate,
        )
    elapsed = time.time() - t0

    result = {
        "rows": args.rows,
        "cpus": args.cpus,
        "curate": bool(args.curate),
        "seconds": round(elapsed, 3),
        "files_per_sec": round(args.rows / elapsed, 1),
        **summary,
    }
    print(json.dumps(result))
    if not args.keep_output and args.output is None:
        shutil.rmtree(output_root, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
