"""Spark session construction and skew-aware partitioning helpers.

The reference is single-threaded and has no notion of partitioning; this
module is pure engine infrastructure mandated by the north rule: explicit
repartitioning before per-row-expensive kernels and narrow band stages,
bucketed writes for co-located joins, and AQE for runtime re-planning.

Scale notes (the design target is ~10^12 files on a multi-executor
cluster; the sandbox runs local[N]):

* the validation map is embarrassingly parallel — throughput scales with
  cores as long as input partitions are balanced (:func:`fan_out` for
  under-split scans); no key salting is applied, since no run has yet
  measured the skew it would treat;
* AQE (adaptive.enabled) coalesces small shuffle partitions and splits
  skewed ones at runtime, which covers the join/agg stages;
* a per-group top-k (:func:`topk_per_group`) cuts each Arrow batch to
  k rows per group before the rank window's exchange, so one large
  group never funnels all its rows into one reducer;
* Arrow batch size is capped so pandas batches stay cache-friendly inside
  mapInPandas regardless of row width.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

#: Defaults applied to every session the engine builds. Each is a public
#: Spark conf; values are tuned for the validation workload.
ENGINE_CONF = {
    # AQE: runtime coalescing + skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / mapInPandas
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # parquet scans: allow splitting large files across tasks
    "spark.sql.files.maxPartitionBytes": "134217728",
    # deterministic time semantics: TIMESTAMP_NTZ ↔ epoch conversions
    # (sessionization, date bucketing) must not depend on the host's
    # timezone; UTC also matches DuckDB's naive-timestamp arithmetic in
    # the oracle gate
    "spark.sql.session.timeZone": "UTC",
    # codegen class cache (STATIC conf — only effective at JVM launch).
    # The default 100-entry cache thrashes in any session that executes
    # a broad query registry: 50 registry queries × several codegen
    # units each evict one another, so a query re-run later in the same
    # session pays its full janino+JIT compile again (measured 7-11 s
    # for the widest expression pipelines vs ~3 s warm-plan). Compile
    # cost is a fixed per-plan cost that amortizes to nothing over real
    # data volumes, so keeping compiled classes alive is the
    # representative configuration for a long-lived session.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Guarantee an expensive per-row Arrow kernel at least
    ``defaultParallelism`` input partitions — a NO-OP whenever the scan
    already splits that wide.

    At the design scale the parquet source yields orders of magnitude
    more splits than cores and this returns ``df`` untouched (adding a
    corpus-wide shuffle there would be the bug). The gate exists for
    the small-input regime — a compact benchmark table, a sampled
    corpus, sandbox-scale test data — where a single-row-group file
    arrives as ONE split and would serialize a kernel that costs
    ~1 ms/doc/core onto one core while 31 idle. The round-robin
    shuffle it inserts there moves only the pruned kernel input (id +
    payload column), and every kernel routed through it has
    repartition-invariance pinned in tests.

    The probe only runs on shuffle-free plans: for a scan-rooted plan
    ``df.rdd.getNumPartitions()`` is job-free, but under AQE ``.rdd``
    on a plan containing an Exchange EXECUTES the upstream shuffle
    stages (and the real action then re-runs them as a new execution).
    A plan that already shuffles leaves the exchange with
    ``spark.sql.shuffle.partitions`` output partitions, so the fan-out
    gate has nothing to add there — such inputs pass through untouched,
    probe never taken. Streaming inputs also pass through: micro-batch
    parallelism is the source's concern (``maxFilesPerTrigger`` etc.),
    and a streaming plan has no ``.rdd`` to inspect.
    """
    if df.isStreaming:
        return df
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan or "AdaptiveSparkPlan" in plan:
        return df
    sc = df.sparkSession.sparkContext
    t = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= t:
        return df
    return df.repartition(t)


def hash_spread(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-partition ``df`` on ``cols`` into ``spark.sql.shuffle.partitions``
    partitions: the exchange a window or join on ``cols`` would plan
    anyway, with its count made explicit so that AQE cannot coalesce it.

    AQE sizes coalesced partitions by shuffle bytes, so a narrow exchange
    whose cost sits in the operators after it (a bucket window and a
    self-join on the same keys) can end up as one task on one core.
    Those operators reuse this partitioning, so the plan keeps its
    exchange count."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)


def _topk_cut(
    df: DataFrame, group_cols: list[str], order: list[tuple[str, str]], k: int
) -> DataFrame:
    """The map side of :func:`topk_per_group`: each Arrow batch keeps
    only its own first ``k`` rows per group under ``order``.

    Every order column sorts behind explicit flag keys, so the batch
    order is Spark's total order for any mix of NULL and NaN: ``asc``
    puts NULLs first and NaN above every number, ``desc`` puts NaN first
    and NULLs last. Arrow's ``null_placement`` applies to all keys at
    once and places NaN beside NULL, so it cannot express this.

    Group runs are cut where any group column changes elementwise
    (``!=``) in sorted order: NULL group keys form one run, as in
    Spark's window partition, while a NaN group key splits into
    singleton runs — a superset survives, and the window trims it."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = df.schema
    names = schema.fieldNames()
    keys = [(c, "ascending") for c in group_cols]

    def prune(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            if n <= k:
                yield batch
                continue
            tbl = pa.Table.from_batches([batch])
            sort_tbl, sort_keys = tbl, list(keys)
            for i, (c, d) in enumerate(order):
                col = tbl.column(c)
                asc = d == "asc"
                # int8, not bool: Arrow sorts an int8 key faster
                if col.null_count:
                    null = pc.cast(pc.is_null(col), pa.int8())
                    sort_tbl = sort_tbl.append_column(f"__null{i}", null)
                    sort_keys.append(
                        (f"__null{i}", "descending" if asc else "ascending")
                    )
                if pa.types.is_floating(col.type):
                    nan = pc.cast(pc.fill_null(pc.is_nan(col), False), pa.int8())
                    sort_tbl = sort_tbl.append_column(f"__nan{i}", nan)
                    sort_keys.append(
                        (f"__nan{i}", "ascending" if asc else "descending")
                    )
                sort_keys.append((c, "ascending" if asc else "descending"))
            idx = pc.sort_indices(sort_tbl, sort_keys=sort_keys).to_numpy(
                zero_copy_only=False
            )
            changed = np.zeros(n, dtype=bool)
            changed[0] = True
            for c in group_cols:
                g = tbl.column(c).to_numpy(zero_copy_only=False)[idx]
                changed[1:] |= g[1:] != g[:-1]
            starts = np.flatnonzero(changed)
            ends = np.r_[starts[1:], n]
            keep = np.concatenate(
                [idx[s : min(s + k, e)] for s, e in zip(starts, ends)]
            )
            yield from tbl.take(pa.array(np.sort(keep))).to_batches()

    return df.mapInArrow(prune, schema).select(*names)


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order: list[tuple[str, str]],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """The first ``k`` rows of every group of ``group_cols`` under
    ``order`` (``[(col, "asc" | "desc"), ...]``), numbered 1..k in
    ``rank_col`` by ``row_number`` over
    ``Window.partitionBy(*group_cols).orderBy(*order)``. ``order``
    should make the rank total (end it with a unique id); ties are
    otherwise broken by input layout.

    One ``mapInArrow`` cut (:func:`_topk_cut`) runs before the window's
    exchange and keeps ≤ k rows per (group, Arrow batch), so the window
    sees O(batches × groups × k) rows instead of every row: without it a
    group with 10^11 rows shuffles into one reducer. The cut is lossless
    because it sorts by the window's own total order, which is derived
    from the same ``order`` list, and a row among the first k of its
    group is among the first k of every subset that contains it. Rows
    are only selected, never recomputed, so the output equals the plain
    window's bit for bit under any partitioning."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if any(d not in ("asc", "desc") for _, d in order):
        raise ValueError(f"order directions must be 'asc' or 'desc': {order}")
    w = Window.partitionBy(*group_cols).orderBy(
        *[F.asc(c) if d == "asc" else F.desc(c) for c, d in order]
    )
    return (
        _topk_cut(df, group_cols, order, k)
        .withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )


def get_spark(
    master: str | None = None,
    app_name: str = "jsl-engine",
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's conf.

    ``shuffle_partitions=None`` leaves ``spark.sql.shuffle.partitions``
    unset, so Spark's own default (200) applies. Every job, bench and
    tool in this repo passes an explicit count (2× the local cores or
    ``max(8, cpus)``), because the ``hash_spread`` band stages plan
    exactly that many tasks. On a real cluster, pass a value sized to
    executors × cores.

    ``driver_memory`` sizes the single local-mode JVM (Spark's 1g default
    OOMs once cached validation output plus shuffle buffers exceed the
    heap); it only takes effect at JVM launch — a no-op when a session
    already exists in the process. On a real cluster, executor memory is
    set by the submitter instead.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = builder.config("spark.driver.memory", driver_memory)
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Ship ``jsl_engine`` to executors via ``addPyFile``.

    Python workers do not inherit the driver's ``sys.path``, so a driver
    launched outside the repo would hit ``ModuleNotFoundError`` inside
    mapInPandas. Zipping the package and ``addPyFile``-ing it is the same
    mechanism ``spark-submit --py-files`` uses in production and makes the
    library self-contained on any cluster. Idempotent per session.
    """
    sc = spark.sparkContext
    marker = "spark.jsl.package.shipped"
    if sc.getLocalProperty(marker):
        return
    pkg_dir = Path(__file__).resolve().parent
    zip_path = os.path.join(tempfile.gettempdir(), f"jsl_engine_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for py in sorted(pkg_dir.glob("*.py")):
                zf.write(py, f"jsl_engine/{py.name}")
    sc.addPyFile(zip_path)
    sc.setLocalProperty(marker, "1")


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    *,
    buckets: int = 64,
    sorted_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and sorted) on its join keys so repeated
    joins against it are **co-located**: two tables bucketed on the same
    keys with the same bucket count sort-merge-join with ZERO exchanges
    (plan-gated in tests/test_plans.py). This is the storage-side answer
    to a join that runs every day at 10^12 rows — pay the shuffle once at
    write time instead of per query. Parquet + session catalog here;
    Iceberg bucket-partition transforms on a production cluster."""
    w = df.write.bucketBy(buckets, *keys)
    if sorted_by is None:
        sorted_by = keys
    if sorted_by:
        w = w.sortBy(*sorted_by)
    w.mode(mode).saveAsTable(table)
