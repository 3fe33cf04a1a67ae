"""Table-level checks: column stats, uniqueness, referential integrity,
distribution drift.

The reference implements none of these (it is a single-document validator —
reference: src/lib.rs:114-118 declares only vm/errors/schema/validator); they
are engine-level operators mandated by the north rule, built entirely from
built-in DataFrame primitives so Catalyst handles pushdown, pruning,
partial aggregation and AQE without custom work.

Scale notes per operator:

* **column stats** — single ``groupBy().agg`` pass with map-side partial
  aggregation; cardinality uses HLL++ (``approx_count_distinct``) on the
  scale path, exact ``count_distinct`` only for oracle-checked tests;
* **uniqueness** — shuffle on the key columns; skewed keys are the caller's
  concern (salt first via :mod:`jsl_engine.partitioning` if the key itself
  is skewed — not needed for (repo,path,commit) whose cardinality ~ rows);
* **referential integrity** — ``left_anti`` join with an explicit
  ``broadcast`` of the dimension when it fits (commits-per-repo dims are
  small relative to facts); falls back to shuffle join otherwise;
* **drift** — the exact KS statistic needs a value-ordered cumulative
  distribution: expressed with window functions (one shuffle + sort);
  at 10^12-row scale use :func:`ks_drift_binned` (fixed-width histogram →
  one aggregation, error bounded by bin width); chi-square is a plain
  two-level aggregation either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Decimal places for floating aggregates — keeps value-hash comparisons
#: against DuckDB stable despite summation-order differences.
ROUND = 6


# ---------------------------------------------------------------------------
# column stats
# ---------------------------------------------------------------------------

def numeric_column_stats(
    df: DataFrame, columns: list[str], *, exact_distinct: bool = False
) -> DataFrame:
    """Per-column stats for numeric columns, one output row per column::

        column, n_rows, n_null, null_frac, min_val, max_val, avg_val, n_distinct

    One aggregation pass over the table computes every column's basic
    stats (map-side combine; no per-column scans), then the single wide
    row is unpivoted driver-free via ``stack``.

    ``exact_distinct=True`` keeps each exact ``count_distinct`` in its
    OWN single-row aggregate, crossJoined onto the stats row (r8): a
    wide agg with several DISTINCT aggregates compiles to an Expand —
    n_distinct_cols × every input row materialized before the partial
    aggregate — while the per-column form is a plain two-phase distinct
    whose shuffle carries only distinct values, and the independent
    subtrees schedule concurrently inside the one job (measured r8 at
    sf1.0: 2.65 s → 1.14 s on 4 lineitem columns, identical output).
    The HLL path (``exact_distinct=False``, the 10^12-row default) is a
    normal aggregate and stays in the single pass.
    """
    aggs = []
    for c in columns:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(col.isNull().cast("long")).alias(f"{c}__nn"),
            F.round(F.min(col).cast("double"), ROUND).alias(f"{c}__min"),
            F.round(F.max(col).cast("double"), ROUND).alias(f"{c}__max"),
            F.round(F.avg(col), ROUND).alias(f"{c}__avg"),
        ]
        if not exact_distinct:
            aggs.append(F.approx_count_distinct(col).alias(f"{c}__nd"))
    wide = df.agg(*aggs)
    if exact_distinct:
        for c in columns:
            wide = wide.crossJoin(
                df.agg(F.count_distinct(F.col(c)).alias(f"{c}__nd"))
            )
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__min, {c}__max, {c}__avg, {c}__nd"
        for c in columns
    )
    return wide.selectExpr(
        f"stack({len(columns)}, {stack_args}) as "
        "(col_name, n_rows, n_null, min_val, max_val, avg_val, n_distinct)"
    ).select(
        "col_name",
        "n_rows",
        "n_null",
        F.round(F.col("n_null") / F.col("n_rows"), ROUND).alias("null_frac"),
        "min_val",
        "max_val",
        "avg_val",
        "n_distinct",
    )


def string_column_stats(
    df: DataFrame, columns: list[str], *, exact_distinct: bool = False
) -> DataFrame:
    """Per-column stats for string columns::

        column, n_rows, n_null, null_frac, min_val, max_val, n_distinct

    min/max are lexicographic on the raw strings (binary collation in both
    Spark and DuckDB, so oracle-comparable without casts).

    Exact distinct counts use the per-column crossJoin shape — see
    :func:`numeric_column_stats` (avoids the multi-DISTINCT Expand).
    """
    aggs = []
    for c in columns:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(col.isNull().cast("long")).alias(f"{c}__nn"),
            F.min(col).alias(f"{c}__min"),
            F.max(col).alias(f"{c}__max"),
        ]
        if not exact_distinct:
            aggs.append(F.approx_count_distinct(col).alias(f"{c}__nd"))
    wide = df.agg(*aggs)
    if exact_distinct:
        for c in columns:
            wide = wide.crossJoin(
                df.agg(F.count_distinct(F.col(c)).alias(f"{c}__nd"))
            )
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__min, {c}__max, {c}__nd" for c in columns
    )
    return wide.selectExpr(
        f"stack({len(columns)}, {stack_args}) as "
        "(col_name, n_rows, n_null, min_val, max_val, n_distinct)"
    ).select(
        "col_name",
        "n_rows",
        "n_null",
        F.round(F.col("n_null") / F.col("n_rows"), ROUND).alias("null_frac"),
        "min_val",
        "max_val",
        "n_distinct",
    )


def grouped_stats(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group aggregate profile (the 'stats shuffle' representative):
    count / sum / avg / min / max of ``value_col`` per group."""
    col = F.col(value_col)
    return (
        df.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(col), ROUND).alias("sum_val"),
            F.round(F.avg(col), ROUND).alias("avg_val"),
            F.round(F.min(col).cast("double"), ROUND).alias("min_val"),
            F.round(F.max(col).cast("double"), ROUND).alias("max_val"),
        )
    )


# ---------------------------------------------------------------------------
# uniqueness
# ---------------------------------------------------------------------------

def duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Keys appearing more than once: ``*keys, n_dup``.

    Single shuffle on the key columns with map-side partial counts.
    """
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_dup"))
        .where(F.col("n_dup") > 1)
    )


def duplicate_rows(df: DataFrame, keys: list[str]) -> DataFrame:
    """Every row belonging to a duplicated key (violation rows for the
    manifest). Window count avoids a self-join: one shuffle, no broadcast."""
    w = Window.partitionBy(*[F.col(k) for k in keys])
    return (
        df.withColumn("n_dup", F.count(F.lit(1)).over(w))
        .where(F.col("n_dup") > 1)
        .drop("n_dup")
    )


# ---------------------------------------------------------------------------
# referential integrity
# ---------------------------------------------------------------------------

def ri_violations(
    fact: DataFrame,
    dim: DataFrame,
    keys: list[str],
    *,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Fact rows whose key has no match in the dimension (``left_anti``).

    ``broadcast_dim=True`` pins a broadcast-hash anti-join — the dimension
    (e.g. distinct commits) is orders of magnitude smaller than the facts,
    so no shuffle of the 10^12-row side. Set False to let AQE decide.
    """
    d = dim.select(*keys).dropDuplicates(keys)
    if broadcast_dim:
        d = F.broadcast(d)
    return fact.join(d, on=keys, how="left_anti")


# ---------------------------------------------------------------------------
# distribution drift
# ---------------------------------------------------------------------------

def ks_drift(df: DataFrame, value_col: str, part_col: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov D between every partition and
    the complement of the table (one-vs-rest), returned per partition::

        part, n_part, n_rest, ks_d

    Exact formulation: with values ordered, D = max over observed values of
    |ECDF_part(v) − ECDF_rest(v)|. Implemented with cumulative window sums
    — one global sort. Use :func:`ks_drift_binned` beyond sort-able scale.
    """
    base = df.select(
        F.col(part_col).alias("part"), F.col(value_col).alias("v")
    ).where(F.col(value_col).isNotNull())
    parts = base.groupBy("part").agg(F.count(F.lit(1)).alias("n_part"))
    total = base.count()

    # per (part, value): count within partition; per value: overall count.
    # The supremum |F_part − F_rest| can land on a jump of EITHER sample, so
    # ECDFs must be evaluated on the dense part × all-values grid — a
    # partition-local cumsum over only the partition's own values
    # under-estimates D.
    pv = base.groupBy("part", "v").agg(F.count(F.lit(1)).alias("c_part"))
    tv = base.groupBy("v").agg(F.count(F.lit(1)).alias("c_tot"))
    grid = parts.select("part").crossJoin(tv)
    j = grid.join(pv, ["part", "v"], "left").fillna({"c_part": 0})

    w = Window.partitionBy("part").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # with the dense grid, the per-part cumsum of c_tot IS the global cumsum
    cum = j.select(
        "part",
        "v",
        F.sum("c_part").over(w).alias("cum_part"),
        F.sum("c_tot").over(w).alias("cum_tot"),
    )

    out = (
        cum.join(parts, "part")
        .withColumn("n_rest", F.lit(total) - F.col("n_part"))
        .withColumn(
            "d",
            F.abs(
                F.col("cum_part") / F.col("n_part")
                - (F.col("cum_tot") - F.col("cum_part")) / F.col("n_rest")
            ),
        )
        .groupBy("part", "n_part", "n_rest")
        .agg(F.round(F.max("d"), ROUND).alias("ks_d"))
    )
    return out.select(F.col("part"), "n_part", "n_rest", "ks_d")


def _binned_part_counts(
    df: DataFrame,
    value_col: str,
    part_col: str,
    *,
    bins: int,
    lo: float | None,
    hi: float | None,
):
    """Shared scaffolding for binned drift statistics (KS, PSI): ONE
    full-data scan into fixed-width-bin counts, densified over the
    part×bin grid.

    Returns ``(j, parts, width)`` where ``j`` has one row per
    (part, bin) observed in the total histogram with columns
    ``part, bin, c_part, c_tot`` (``c_part`` zero-filled for bins the
    partition missed), ``parts`` has ``part, n_part, n_rest`` and
    ``width`` is the resolved bin width — or ``(None, degenerate,
    0.0)`` when the domain is empty/degenerate, where ``degenerate`` is
    the distinct-parts frame for the caller's zero-statistic fallback.

    Domain handling (documented on :func:`ks_drift_binned`): fixed
    ``lo``/``hi`` → action-free plan with edge-bin clamping; missing
    bounds derived from data in one combined driver action."""
    base = df.select(
        F.col(part_col).alias("part"), F.col(value_col).cast("double").alias("v")
    ).where(F.col(value_col).isNotNull())
    if lo is not None and hi is not None and lo >= hi:
        # an explicitly inverted/empty caller domain is a configuration
        # error, not a degenerate data domain — silently reporting 0.0
        # drift forever would mask a misconfigured monitor
        raise ValueError(
            f"inverted drift domain: lo={lo!r} >= hi={hi!r} (swapped arguments?)"
        )
    if lo is None or hi is None:
        dlo, dhi = base.agg(F.min("v"), F.max("v")).first()
        lo = lo if lo is not None else dlo
        hi = hi if hi is not None else dhi
    if lo is None or hi is None or lo >= hi:
        return None, base.select("part").distinct(), 0.0
    width = (hi - lo) / bins
    binned = base.withColumn(
        "bin",
        F.greatest(
            F.least(
                F.floor((F.col("v") - F.lit(lo)) / F.lit(width)), F.lit(bins - 1)
            ),
            F.lit(0),
        ),
    )
    pb = binned.groupBy("part", "bin").agg(F.count(F.lit(1)).alias("c_part"))
    tb = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c_tot"))
    # totals from the tiny per-partition aggregate — no second data scan:
    # n_rest = (sum of all n_part) - n_part via a global window over
    # |parts| rows
    parts = binned.groupBy("part").agg(F.count(F.lit(1)).alias("n_part"))
    parts = parts.withColumn(
        "n_rest", F.sum("n_part").over(Window.partitionBy()) - F.col("n_part")
    )

    # dense part×bin grid so partitions missing a bin still accumulate
    grid = parts.select("part").crossJoin(tb.select("bin"))
    j = (
        grid.join(pb, ["part", "bin"], "left")
        .join(tb, "bin")
        .fillna({"c_part": 0})
    )
    return j, parts, width


def ks_drift_binned(
    df: DataFrame,
    value_col: str,
    part_col: str,
    *,
    bins: int = 1024,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Approximate one-vs-rest KS over fixed-width bins — the 10^12-row
    path: no global sort; D error ≤ max bin mass.

    Pass a fixed ``lo``/``hi`` domain to make the plan fully
    **action-free and single-scan** — production drift monitors have
    fixed domains, which also keeps bin edges stable across runs (a
    property the run-over-run comparison wants anyway). Out-of-domain
    values clamp into the edge bins (bin 0 below ``lo``, bin ``bins-1``
    above ``hi``), so outliers cannot inflate the dense part×bin grid
    past ``bins`` cells. A partially specified domain derives only the
    missing bound from data (the given one is honored — bin edges on
    that side stay stable). When both are omitted, min/max come from ONE
    combined driver action (they were two — min/max agg + a full count —
    before; the total row count now comes from a window over the tiny
    per-partition aggregate instead of a rescan)."""
    j, parts, _ = _binned_part_counts(
        df, value_col, part_col, bins=bins, lo=lo, hi=hi
    )
    if j is None:
        return parts.select("part", F.lit(0.0).alias("ks_d"))
    w = Window.partitionBy("part").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = j.select(
        "part",
        "bin",
        F.sum("c_part").over(w).alias("cum_part"),
        F.sum("c_tot").over(w).alias("cum_tot"),
    )
    return (
        cum.join(parts, "part")
        .withColumn(
            "d",
            F.abs(
                F.col("cum_part") / F.col("n_part")
                - (F.col("cum_tot") - F.col("cum_part")) / F.col("n_rest")
            ),
        )
        .groupBy("part")
        .agg(F.round(F.max("d"), ROUND).alias("ks_d"))
    )


def psi_drift_binned(
    df: DataFrame,
    value_col: str,
    part_col: str,
    *,
    bins: int = 1024,
    lo: float | None = None,
    hi: float | None = None,
    eps: float = 1e-6,
) -> DataFrame:
    """One-vs-rest Population Stability Index over fixed-width bins::

        part, psi

    ``psi = Σ_bins (p_part - p_rest) * ln(p_part / p_rest)`` with both
    probabilities clamped to at least ``eps`` (the standard smoothing for
    empty bins — without it a single bin observed in only one side sends
    the statistic to ±inf). Conventional read: <0.1 stable, 0.1–0.25
    moderate shift, >0.25 major shift.

    Same scan discipline as :func:`ks_drift_binned` (shared
    ``_binned_part_counts`` scaffolding): ONE full-data pass with
    map-side combine into ≤ parts×bins cells, edge-bin clamping for a
    fixed domain, action-free when ``lo``/``hi`` are given. Unlike KS,
    PSI needs no cumulative window — it is a straight per-bin sum, so
    the tail is one tiny aggregation over the dense grid.

    North-rule context: third drift check next to KS (numeric shape) and
    chi-square (categorical independence); PSI is what production
    monitors actually alarm on because it is additive per bin and stable
    under fixed domains. The reference has no drift checks (engine-level
    addition; reference scope is src/lib.rs:114-118)."""
    j, parts, _ = _binned_part_counts(
        df, value_col, part_col, bins=bins, lo=lo, hi=hi
    )
    if j is None:
        return parts.select("part", F.lit(0.0).alias("psi"))
    p_part = F.greatest(
        F.col("c_part") / F.col("n_part"), F.lit(float(eps))
    )
    p_rest = F.greatest(
        (F.col("c_tot") - F.col("c_part")) / F.col("n_rest"), F.lit(float(eps))
    )
    return (
        j.join(parts, "part")
        .withColumn("term", (p_part - p_rest) * F.log(p_part / p_rest))
        .groupBy("part")
        .agg(F.round(F.sum("term"), ROUND).alias("psi"))
    )


def wasserstein_drift_binned(
    df: DataFrame,
    value_col: str,
    part_col: str,
    *,
    bins: int = 1024,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """One-vs-rest Wasserstein-1 (earth mover's) distance over
    fixed-width bins::

        part, w1

    ``W1 = Σ_bins |ECDF_part - ECDF_rest| * bin_width`` — the discrete
    form of ``∫|F−G|``. Complements the other drift checks: KS reports
    the worst single gap (location-sensitive, scale-free), PSI the
    log-weighted mass reallocation, W1 *how far* mass moved in value
    units — a mean shift of δ gives W1 ≈ δ regardless of variance, which
    is the number a "did the distribution move materially?" alarm wants.

    Same single-scan scaffolding and cumulative window as
    :func:`ks_drift_binned` (identical plan shape — only the final
    aggregate differs: sum×width instead of max); action-free with a
    fixed ``lo``/``hi`` domain. Discretization error ≤ width per bin of
    moved mass, same trade as the binned KS.

    The dense grid holds only bins observed in the total histogram, but
    a CDF gap *persists* across unobserved bins (both CDFs are flat
    there, at unequal heights) — so each occupied bin's gap is weighted
    by the span to the next occupied bin (``lead(bin) - bin``; the last
    occupied bin has gap 0, both CDFs having reached 1). KS needs no
    such correction (a flat stretch cannot raise a maximum); for PSI
    empty-total bins contribute eps-vs-eps = 0."""
    j, parts, width = _binned_part_counts(
        df, value_col, part_col, bins=bins, lo=lo, hi=hi
    )
    if j is None:
        return parts.select("part", F.lit(0.0).alias("w1"))
    w = Window.partitionBy("part").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lead_w = Window.partitionBy("part").orderBy("bin")
    cum = j.select(
        "part",
        "bin",
        F.sum("c_part").over(w).alias("cum_part"),
        F.sum("c_tot").over(w).alias("cum_tot"),
    ).withColumn(
        "span",
        F.coalesce(F.lead("bin").over(lead_w) - F.col("bin"), F.lit(1)),
    )
    return (
        cum.join(parts, "part")
        .withColumn(
            "gap",
            F.abs(
                F.col("cum_part") / F.col("n_part")
                - (F.col("cum_tot") - F.col("cum_part")) / F.col("n_rest")
            ),
        )
        .groupBy("part")
        .agg(
            F.round(
                F.sum(F.col("gap") * F.col("span")) * F.lit(width), ROUND
            ).alias("w1")
        )
    )


def drift_report(
    df: DataFrame,
    value_col: str,
    part_col: str,
    *,
    bins: int = 1024,
    lo: float | None = None,
    hi: float | None = None,
    eps: float = 1e-6,
) -> DataFrame:
    """All three numeric drift statistics from ONE histogram pass::

        part, ks_d, psi, w1

    The payoff of the shared ``_binned_part_counts`` scaffolding: the
    monitor a production job actually runs computes KS (worst gap), PSI
    (log-weighted reallocation) and W1 (mass moved, value units)
    together — one full-data scan into the dense part×bin grid, one
    cumulative window (KS and W1 share it; PSI needs none), one final
    aggregate. Semantics identical to the standalone operators
    (pytest-pinned); action-free with a fixed ``lo``/``hi``."""
    j, parts, width = _binned_part_counts(
        df, value_col, part_col, bins=bins, lo=lo, hi=hi
    )
    if j is None:
        return parts.select(
            "part",
            F.lit(0.0).alias("ks_d"),
            F.lit(0.0).alias("psi"),
            F.lit(0.0).alias("w1"),
        )
    w = Window.partitionBy("part").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lead_w = Window.partitionBy("part").orderBy("bin")
    cum = (
        j.join(parts, "part")
        .select(
            "part",
            "bin",
            "c_part",
            "c_tot",
            "n_part",
            "n_rest",
            F.sum("c_part").over(w).alias("cum_part"),
            F.sum("c_tot").over(w).alias("cum_tot"),
        )
        .withColumn(
            "span",
            F.coalesce(F.lead("bin").over(lead_w) - F.col("bin"), F.lit(1)),
        )
    )
    gap = F.abs(
        F.col("cum_part") / F.col("n_part")
        - (F.col("cum_tot") - F.col("cum_part")) / F.col("n_rest")
    )
    p_part = F.greatest(F.col("c_part") / F.col("n_part"), F.lit(float(eps)))
    p_rest = F.greatest(
        (F.col("c_tot") - F.col("c_part")) / F.col("n_rest"), F.lit(float(eps))
    )
    return (
        cum.withColumn("gap", gap)
        .withColumn("term", (p_part - p_rest) * F.log(p_part / p_rest))
        .groupBy("part")
        .agg(
            F.round(F.max("gap"), ROUND).alias("ks_d"),
            F.round(F.sum("term"), ROUND).alias("psi"),
            F.round(
                F.sum(F.col("gap") * F.col("span")) * F.lit(width), ROUND
            ).alias("w1"),
        )
    )


def chi_square_drift(df: DataFrame, cat_col: str, part_col: str) -> DataFrame:
    """Pearson chi-square statistic of the partition × category contingency
    table (independence test: does the categorical distribution differ
    across partitions?)::

        chi2, dof

    Fully declarative and **single-scan**: the contingency aggregate
    ``obs`` is the only full-data pass (map-side combine); row totals,
    column totals, the grand total and the dof counts all derive from
    ``obs``'s tiny output, and every branch hangs off the same
    (part, cat) exchange, which Spark reuses (ReusedExchange). The
    previous formulation ran three extra driver actions — each a full
    rescan (``base.count()``, ``row_tot.count()``, ``col_tot.count()``).
    """
    base = df.select(
        F.col(part_col).alias("part"), F.col(cat_col).alias("cat")
    ).where(F.col(cat_col).isNotNull() & F.col(part_col).isNotNull())
    obs = base.groupBy("part", "cat").agg(F.count(F.lit(1)).alias("o"))
    row_tot = obs.groupBy("part").agg(F.sum("o").alias("rt"))
    col_tot = obs.groupBy("cat").agg(F.sum("o").alias("ct"))
    # grand total + dof counts from the tiny totals (1-row broadcasts)
    tot = F.broadcast(
        row_tot.agg(
            F.sum("rt").alias("n"), F.count(F.lit(1)).alias("n_parts")
        )
    )
    ctot = F.broadcast(col_tot.agg(F.count(F.lit(1)).alias("n_cats")))

    # dense grid: absent cells are observed-zero but have expected > 0
    grid = row_tot.crossJoin(col_tot)
    cells = grid.join(obs, ["part", "cat"], "left").fillna({"o": 0})
    return (
        cells.crossJoin(tot)
        .crossJoin(ctot)
        .select(
            (
                F.pow(F.col("o") - F.col("rt") * F.col("ct") / F.col("n"), 2)
                / (F.col("rt") * F.col("ct") / F.col("n"))
            ).alias("term"),
            "n_parts",
            "n_cats",
        )
        .agg(
            F.round(F.sum("term"), ROUND).alias("chi2"),
            (
                (F.first("n_parts") - 1) * (F.first("n_cats") - 1)
            ).cast("long").alias("dof"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    *,
    hash_col: str = "content_sha256",
) -> DataFrame:
    """Change detection between two snapshots of the same table::

        <keys...>, change_type   -- 'added' | 'removed' | 'changed'

    Unchanged rows are dropped, so downstream incremental validation
    re-validates only ``added``/``changed`` keys (semi-join the new
    snapshot against this frame) instead of rescanning the corpus — the
    incremental companion to the manifest's partition-level resume
    (:mod:`jsl_engine.manifest`). The caller supplies the content hash
    column (``F.sha2(content, 256)`` — the same row invariant the
    validation job carries), so the diff join moves hashes, never
    document bodies.

    Scale shape: one shuffle — a full-outer join on the key columns over
    (keys, hash) projections. On bucketed tables
    (:func:`jsl_engine.partitioning.write_bucketed` on the same keys)
    the exchange disappears entirely; on Iceberg, prefer the native
    changelog/incremental scan between adjacent snapshots and keep this
    operator for arbitrary snapshot pairs."""
    # presence must come from explicit markers, NOT hash nullability: a
    # key present in both snapshots whose content (hence hash) is NULL on
    # one side would otherwise be misclassified as added/removed — and an
    # incremental-validation caller would then silently drop a live
    # document. Hashes compare null-safely for the same reason.
    o = old.select(
        *keys, F.col(hash_col).alias("__old_h"), F.lit(True).alias("__old_p")
    )
    n = new.select(
        *keys, F.col(hash_col).alias("__new_h"), F.lit(True).alias("__new_p")
    )
    return (
        o.join(n, keys, "full_outer")
        .withColumn(
            "change_type",
            F.when(F.col("__old_p").isNull(), F.lit("added"))
            .when(F.col("__new_p").isNull(), F.lit("removed"))
            .when(
                ~F.col("__old_h").eqNullSafe(F.col("__new_h")),
                F.lit("changed"),
            ),
        )
        .where(F.col("change_type").isNotNull())
        .select(*keys, "change_type")
    )


def skew_aware_counts(
    df: DataFrame,
    key_cols: list[str],
    *,
    salt_buckets: int = 64,
    count_col: str = "n",
) -> DataFrame:
    """Per-key row counts via two-phase salted aggregation.

    For a skewed key (a monorepo owning 15% of a 10^12-row table), a plain
    ``groupBy(key)`` sends that key's entire volume to one reducer. Phase 1
    aggregates on (key, salt) — at most ``salt_buckets`` partial rows per
    key, each bounded at 1/salt_buckets of the key's volume; phase 2 sums
    the tiny partials. AQE's skew handling covers joins; this is the
    equivalent for aggregation when the skewed key is known.
    """
    # nondeterministic-but-count-safe salt: monotonically_increasing_id
    # depends on partition layout and task retries, but the salt only
    # decides which bucket a row's +1 lands in — phase 2 sums all buckets,
    # so the final counts are retry-safe. Do NOT reuse this salt where the
    # per-bucket assignment itself must be stable; derive it from row
    # content (e.g. F.pmod(F.xxhash64(*cols), buckets)) in that case.
    salted = df.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    )
    partial = salted.groupBy(*key_cols, "__salt").agg(
        F.count(F.lit(1)).alias("__partial")
    )
    return partial.groupBy(*key_cols).agg(F.sum("__partial").alias(count_col))


# ---------------------------------------------------------------------------
# mergeable sketches (incremental cross-partition cardinality)
# ---------------------------------------------------------------------------

def hll_partition_sketches(
    df: DataFrame,
    columns: list[str],
    part_col: str = "part_key",
    *,
    lg_k: int = 12,
) -> DataFrame:
    """Per-partition mergeable HLL sketches (Apache DataSketches)::

        part_key, col_name, sketch (binary), estimate

    The scale pattern behind it: a resumable job stores one sketch per
    committed partition (alongside its manifest row); global cardinality
    is then :func:`hll_global_estimate` over the sketches — **no rescan
    of already-committed data**, and re-processing a partition just
    replaces its sketch. One aggregation pass with map-side combine.
    """
    aggs = []
    for c in columns:
        aggs.append(F.hll_sketch_agg(F.col(c), F.lit(lg_k)).alias(f"__s_{c}"))
    wide = df.groupBy(part_col).agg(*aggs)
    stack_args = ", ".join(f"'{c}', __s_{c}" for c in columns)
    return wide.selectExpr(
        part_col, f"stack({len(columns)}, {stack_args}) as (col_name, sketch)"
    ).withColumn("estimate", F.hll_sketch_estimate("sketch"))


def hll_global_estimate(sketches: DataFrame) -> DataFrame:
    """Union per-partition sketches → global distinct estimate per column::

        col_name, distinct_estimate

    HLL union takes the per-register max; the union of partition sketches
    estimates within a fraction of a percent of a single global sketch at
    the same ``lg_k`` (not byte-identical — DataSketches' sparse-mode
    promotion history differs — but pinned ≤1% apart by pytest, and both
    within standard HLL error of exact).
    """
    return (
        sketches.groupBy("col_name")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
                "distinct_estimate"
            )
        )
    )


# ---------------------------------------------------------------------------
# exact quantiles
# ---------------------------------------------------------------------------

def exact_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles: "tuple[float, ...]",
    *,
    bins: int = 65536,
    collect_budget: int = 1 << 20,
    max_refine: int = 4,
) -> "list[float | None]":
    """Exact linear-interpolation quantiles of a numeric column —
    bit-for-bit equal to Spark's ``percentile(col, array(...))``
    (parity pinned in tests/test_table_checks.py) without its
    single-reducer value buffer.

    The built-in exact ``percentile`` aggregates a value→count hash map
    per partition and merges EVERY map into one final buffer, then sorts
    it — on a mostly-distinct column that is a corpus-sized single-task
    merge (measured r8: 14.5 s at 6M rows / 4.6M distinct values vs
    ~1.3 s here; at 10^12 rows it simply does not finish). This computes
    the same order statistics with bounded state (guide §2.3/§2.4: the
    shuffle carries ≤ ``bins`` partial-aggregated rows, never values):

    1. one aggregate pass for (count, min, max);
    2. one histogram pass over ``bins`` equal-width value bins locates
       the bin holding each needed order statistic (the floor/ceil ranks
       of every ``q·(n−1)`` position);
    3. candidate bins holding more than ``collect_budget`` rows are
       refined with further predicate-restricted histograms (each level
       subdivides by ``bins``, so 4 levels cover a 2^64 value-range
       split — in practice level 1 suffices); terminal bins resolve by
       collecting their *distinct* values with counts (bounded by the
       bin's row count; duplicate-heavy bins collapse to few rows);
    4. the driver applies the reference interpolation
       ``(ceil(pos)−pos)·lower + (pos−floor(pos))·higher`` with the same
       short-circuits as Spark's ``Percentile.getPercentile`` (integral
       position → the value itself; equal neighbors → no arithmetic),
       in identical IEEE-double order.

    Returns raw (unrounded) Python floats, one per requested quantile
    (``None`` for every entry when the column is empty) — callers apply
    their own rounding in-plan so JVM rounding semantics are untouched.
    NULLs are ignored like the built-in; NaN inputs are unsupported
    (order statistics over NaN are engine-specific).
    """
    import math

    import numpy as np

    c = F.col(value_col)
    head = df.agg(
        F.count(c).alias("n"), F.min(c).alias("lo"), F.max(c).alias("hi")
    ).first()
    n, lo, hi = head["n"], head["lo"], head["hi"]
    if n == 0:
        return [None] * len(quantiles)
    lo, hi = float(lo), float(hi)
    positions = [q * (n - 1) for q in quantiles]
    needed = sorted(
        {int(math.floor(p)) for p in positions}
        | {int(math.ceil(p)) for p in positions}
    )
    values: "dict[int, float]" = {}

    def resolve_leaf(pred, ranks, off) -> None:
        """Exact ranked values of the predicate's subset via a distinct
        value→count collect (never one row per duplicate)."""
        hist = sorted(
            (float(r[0]), int(r[1]))
            for r in df.where(pred).groupBy(c).agg(F.count(F.lit(1))).collect()
        )
        vals = np.array([h[0] for h in hist])
        cum = np.cumsum(np.array([h[1] for h in hist], dtype=np.int64))
        for r in ranks:
            values[r] = float(vals[int(np.searchsorted(cum, r - off, side="right"))])

    # (predicate, value interval, ranks to resolve, rows before subset)
    pending = [(c.isNotNull(), lo, hi, needed, 0)]
    for _ in range(max_refine):
        nxt = []
        for pred, vlo, vhi, ranks, off in pending:
            width = (vhi - vlo) / bins
            if width <= 0.0:  # interval no longer subdividable
                resolve_leaf(pred, ranks, off)
                continue
            b = F.least(
                F.lit(bins - 1),
                F.greatest(
                    F.lit(0), F.floor((c - F.lit(vlo)) / F.lit(width)).cast("int")
                ),
            )
            hist = sorted(
                (int(r[0]), int(r[1]))
                for r in df.where(pred).groupBy(b.alias("__bin")).count().collect()
            )
            cnts = np.array([h[1] for h in hist], dtype=np.int64)
            cum = np.cumsum(cnts)
            starts = cum - cnts
            by_bin: "dict[int, list[int]]" = {}
            for r in ranks:
                by_bin.setdefault(
                    int(np.searchsorted(cum, r - off, side="right")), []
                ).append(r)
            for k, rs in by_bin.items():
                bid = hist[k][0]
                sub = (pred & (b == F.lit(bid)), rs, off + int(starts[k]))
                if cnts[k] <= collect_budget:
                    resolve_leaf(*sub)
                else:
                    nxt.append(
                        (sub[0], vlo + bid * width, vlo + (bid + 1) * width,
                         rs, sub[2])
                    )
        if not nxt:
            break
        pending = nxt
    else:  # max_refine exhausted with bins still over budget
        for pred, _vlo, _vhi, ranks, off in pending:
            resolve_leaf(pred, ranks, off)

    out: "list[float | None]" = []
    for p in positions:
        lower, higher = int(math.floor(p)), int(math.ceil(p))
        lower_key = values[lower]
        if higher == lower:
            out.append(lower_key)
            continue
        higher_key = values[higher]
        if higher_key == lower_key:
            out.append(lower_key)
            continue
        out.append((higher - p) * lower_key + (p - lower) * higher_key)
    return out


# ---------------------------------------------------------------------------
# ordering / set ops
# ---------------------------------------------------------------------------

def group_topk_prune(
    df: DataFrame,
    group_col: str,
    order_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Batch-local LOSSLESS per-group top-``k`` cut applied before a
    per-group ranking window (r8) — the grouped twin of
    :func:`jsl_engine.similarity._local_topk_prune`: each Arrow batch
    keeps only its own top ``k`` rows per group under the IDENTICAL
    total order the downstream window uses (``order_col`` desc with
    Spark's NaN-first/NULL-last placement, ties broken ``id_col`` asc —
    a unique id makes the order total, so a row in the global top-k is
    in the top-k of every subset containing it). The window's shuffle
    input becomes O(batches × groups × k) instead of O(rows): at sf1.0
    the 1.5M-row orders table funnels ~2k rows into the rank window
    instead of 1.5M (measured 1.8 s → 0.9 s). No arithmetic happens
    here — rows are only selected — so the result is bit-for-bit the
    unpruned window's output (pinned in tests)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = df.schema
    names = schema.fieldNames()

    def prune(batches):
        for batch in batches:
            if batch.num_rows <= k:
                yield batch
                continue
            tbl = pa.Table.from_batches([batch])
            keys = [(group_col, "ascending")]
            col = tbl.column(order_col)
            sort_tbl = tbl
            if pa.types.is_floating(col.type):
                # Spark's desc double order is NaN FIRST; Arrow sorts
                # NaN after every number — same fix as _local_topk_prune
                nan_flag = pc.cast(
                    pc.fill_null(pc.is_nan(col), False), pa.int8()
                )
                sort_tbl = tbl.append_column("__nan", nan_flag)
                keys.append(("__nan", "descending"))
            keys += [(order_col, "descending"), (id_col, "ascending")]
            order = pc.sort_indices(sort_tbl, sort_keys=keys).to_numpy(
                zero_copy_only=False
            )
            g = tbl.column(group_col).to_numpy(zero_copy_only=False)[order]
            starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
            ends = np.r_[starts[1:], g.size]
            keep = np.concatenate(
                [order[s : min(s + k, e)] for s, e in zip(starts, ends)]
            )
            yield from tbl.take(pa.array(np.sort(keep))).to_batches()

    return df.mapInArrow(prune, schema).select(*names)


def pending_partitions(all_parts: DataFrame, committed: DataFrame, key: str = "part_key") -> DataFrame:
    """Resume set: partitions not yet committed (anti-join on the manifest)."""
    return all_parts.select(key).distinct().join(
        F.broadcast(committed.select(key).distinct()), on=key, how="left_anti"
    )
