"""Table-check operator tests against hand-computed expectations, plus the
DuckDB oracle harness at sf0.001 (the driver runs the same comparison at
sf0.01 — tools/check_oracle.py replicates it)."""

import math

import numpy as np
import pytest
from pyspark.sql import Row

from jsl_engine import table_checks as tc


@pytest.fixture(scope="module")
def toy(spark):
    return spark.createDataFrame(
        [
            Row(g="a", x=1.0, s="p"),
            Row(g="a", x=3.0, s="q"),
            Row(g="b", x=None, s="p"),
            Row(g="b", x=5.0, s=None),
            Row(g="b", x=5.0, s="r"),
        ]
    )


def test_numeric_column_stats(toy):
    [r] = tc.numeric_column_stats(toy, ["x"], exact_distinct=True).collect()
    assert r.col_name == "x"
    assert r.n_rows == 5
    assert r.n_null == 1
    assert r.null_frac == 0.2
    assert r.min_val == 1.0 and r.max_val == 5.0
    assert r.avg_val == round((1 + 3 + 5 + 5) / 4, 6)
    assert r.n_distinct == 3


def test_string_column_stats(toy):
    [r] = tc.string_column_stats(toy, ["s"], exact_distinct=True).collect()
    assert (r.n_rows, r.n_null, r.min_val, r.max_val, r.n_distinct) == (5, 1, "p", "r", 3)


def test_grouped_stats(toy):
    out = {r.g: r for r in tc.grouped_stats(toy, ["g"], "x").collect()}
    assert out["a"].n == 2 and out["a"].sum_val == 4.0 and out["a"].avg_val == 2.0
    assert out["b"].n == 3 and out["b"].sum_val == 10.0  # nulls excluded from sum
    assert out["b"].avg_val == 5.0


def test_duplicate_keys(spark):
    df = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=1, v="b"), Row(k=2, v="c"), Row(k=3, v="d"), Row(k=3, v="e"), Row(k=3, v="f")]
    )
    dups = {r.k: r.n_dup for r in tc.duplicate_keys(df, ["k"]).collect()}
    assert dups == {1: 2, 3: 3}


def test_ri_violations(spark):
    fact = spark.createDataFrame([Row(fk=1), Row(fk=2), Row(fk=9), Row(fk=None)])
    dim = spark.createDataFrame([Row(fk=1), Row(fk=2), Row(fk=3)])
    out = tc.ri_violations(fact, dim, ["fk"]).collect()
    # left_anti keeps unmatched rows incl. NULL keys (NULL never matches)
    assert sorted((r.fk if r.fk is not None else -1) for r in out) == [-1, 9]


def _ks_reference(a, b):
    """Plain-numpy two-sample KS D over all observed points."""
    allv = np.sort(np.unique(np.concatenate([a, b])))
    fa = np.searchsorted(np.sort(a), allv, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), allv, side="right") / len(b)
    return np.max(np.abs(fa - fb))


def test_ks_drift_exact(spark):
    rng = np.random.default_rng(0)
    a = rng.normal(0, 1, 400)
    b = rng.normal(0.5, 1.2, 300)  # shifted: real drift
    rows = [Row(p="a", v=float(x)) for x in a] + [Row(p="b", v=float(x)) for x in b]
    df = spark.createDataFrame(rows)
    out = {r.part: r for r in tc.ks_drift(df, "v", "p").collect()}
    # one-vs-rest with two partitions is the classic two-sample statistic
    want = round(float(_ks_reference(a, b)), 6)
    assert out["a"].ks_d == want
    assert out["b"].ks_d == want
    assert out["a"].n_part == 400 and out["a"].n_rest == 300


def test_drift_report_ks_close_to_exact(spark):
    """drift_report's binned ks_d stays within 0.02 of the exact ks_drift."""
    rng = np.random.default_rng(1)
    a = rng.normal(0, 1, 500)
    b = rng.normal(1.0, 1.0, 500)
    rows = [Row(p="a", v=float(x)) for x in a] + [Row(p="b", v=float(x)) for x in b]
    df = spark.createDataFrame(rows)
    exact = {r.part: r.ks_d for r in tc.ks_drift(df, "v", "p").collect()}
    approx = {r.part: r.ks_d for r in tc.drift_report(df, "v", "p", bins=512).collect()}
    for p in ("a", "b"):
        assert abs(exact[p] - approx[p]) < 0.02


def test_chi_square_drift(spark):
    # contingency: part x in {p,q}, cat in {A,B}
    rows = (
        [Row(part="p", cat="A")] * 30
        + [Row(part="p", cat="B")] * 10
        + [Row(part="q", cat="A")] * 20
        + [Row(part="q", cat="B")] * 40
    )
    df = spark.createDataFrame(rows)
    [r] = tc.chi_square_drift(df, "cat", "part").collect()
    # manual Pearson chi2
    n = 100
    obs = {("p", "A"): 30, ("p", "B"): 10, ("q", "A"): 20, ("q", "B"): 40}
    rt = {"p": 40, "q": 60}
    ct = {"A": 50, "B": 50}
    chi2 = sum(
        (o - rt[p] * ct[c] / n) ** 2 / (rt[p] * ct[c] / n) for (p, c), o in obs.items()
    )
    assert r.chi2 == round(chi2, 6)
    assert r.dof == 1


def test_chi_square_zero_cells(spark):
    # a category absent from one partition must contribute (0-exp)^2/exp
    rows = [Row(part="p", cat="A")] * 5 + [Row(part="q", cat="B")] * 5
    [r] = tc.chi_square_drift(spark.createDataFrame(rows), "cat", "part").collect()
    assert r.chi2 == 10.0  # fully dependent 2x2 → chi2 = n
    assert r.dof == 1


def test_pending_partitions(spark):
    allp = spark.createDataFrame([Row(part_key=k) for k in ["a", "b", "c", "d"]])
    done = spark.createDataFrame([Row(part_key=k) for k in ["a", "c"]])
    out = sorted(r.part_key for r in tc.pending_partitions(allp, done).collect())
    assert out == ["b", "d"]


def test_oracle_harness_sf0001():
    """The driver's correctness gate, replicated at sf0.001."""
    from tools.check_oracle import main

    assert main("/root/testdata/sf0.001") == 0


def test_skew_aware_counts(spark):
    """Two-phase salted aggregation equals the plain groupBy counts."""
    from jsl_engine.corpus import generate_corpus

    df = generate_corpus(spark, 2000, seed=3, partitions=4)
    plain = {r.repo: r["count"] for r in df.groupBy("repo").count().collect()}
    salted = {r.repo: r.n for r in tc.skew_aware_counts(df, ["repo"]).collect()}
    assert salted == plain
    # the Zipf head is present and dominant (skew is real in the fixture)
    top = max(plain.values())
    assert top > 2000 * 0.1


def test_approx_quantiles_query_bound_and_closeness(spark):
    """The percentile_approx headline query must pass its own GK
    rank-error gate (all within_bound TRUE) and the sketch values must
    track the exact percentile closely at fixture scale."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    out = {r.pct: r.within_bound
           for r in em.q_quantiles_lineitem_approx(spark, sf_dir).collect()}
    assert out == {"25": True, "50": True, "75": True, "95": True}

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    [row] = li.agg(
        F.expr("percentile(l_extendedprice, array(0.25,0.5,0.75,0.95))").alias("ex"),
        F.expr("percentile_approx(l_extendedprice, array(0.25,0.5,0.75,0.95), 10000)").alias("ap"),
    ).collect()
    for exact, approx in zip(row["ex"], row["ap"]):
        assert abs(approx - exact) / max(abs(exact), 1e-9) < 0.01, (exact, approx)


def test_binned_ks_and_chi2_scan_discipline(spark):
    """Scale gates for the drift operators: with a fixed lo/hi domain the
    binned-KS plan is built with ZERO driver jobs (fully declarative);
    with a derived domain exactly ONE job runs (combined min/max — the
    old shape added a full-count rescan). chi_square_drift construction
    is action-free and its physical plan scans the source exactly once,
    reusing the contingency exchange for totals."""
    import uuid

    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(part="a" if i % 3 else "b", v=float(i % 17), cat=str(i % 5))
         for i in range(300)]
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_during(fn):
        group = f"probe-{uuid.uuid4()}"
        sc.setJobGroup(group, "scan-discipline probe")
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(tracker.getJobIdsForGroup(group))

    _, n_fixed = jobs_during(
        lambda: tc.drift_report(df, "v", "part", lo=0.0, hi=16.0)
    )
    assert n_fixed == 0

    # one ACTION (combined min/max agg; AQE materializes its shuffle as a
    # separate job, so <= 2 jobs) — the old shape ran a second full-count
    # action on top, i.e. >= 3 jobs here
    _, n_derived = jobs_during(lambda: tc.drift_report(df, "v", "part"))
    assert 1 <= n_derived <= 2

    chi, n_chi = jobs_during(lambda: tc.chi_square_drift(df, "cat", "part"))
    assert n_chi == 0
    # single-scan evidence: in the EXECUTED adaptive plan all derived
    # branches (row totals, column totals, grand total, dof counts) reuse
    # the one contingency (part, cat) exchange — the scan under it runs
    # exactly once
    chi.collect()
    plan = chi._sc._jvm.PythonSQLUtils.explainString(
        chi._jdf.queryExecution(), "formatted"
    )
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange [Reuses operator id") >= 3

    # fixed-domain result equals derived-domain result when lo/hi match
    a = {r.part: r.ks_d for r in
         tc.drift_report(df, "v", "part", lo=0.0, hi=16.0).collect()}
    b = {r.part: r.ks_d for r in tc.drift_report(df, "v", "part").collect()}
    assert a == b


def test_binned_ks_fixed_domain_clamps_and_partial_bounds(spark):
    """Out-of-domain values clamp into edge bins (the dense grid stays
    <= bins cells even with extreme outliers), and a partially-specified
    domain honors the given bound."""
    from pyspark.sql import Row

    rows = [Row(part="a" if i % 2 else "b", v=float(i % 10)) for i in range(200)]
    rows += [Row(part="a", v=-1e6), Row(part="b", v=1e6)]  # wild outliers
    df = spark.createDataFrame(rows)
    out = tc.drift_report(df, "v", "part", bins=64, lo=0.0, hi=9.0).collect()
    assert len(out) == 2
    assert all(0.0 <= r.ks_d <= 1.0 for r in out)

    # partial spec: lo honored, hi derived — equals the fully-specified call
    a = {r.part: r.ks_d
         for r in tc.drift_report(df, "v", "part", bins=64, lo=0.0).collect()}
    b = {r.part: r.ks_d
         for r in tc.drift_report(df, "v", "part", bins=64, lo=0.0, hi=1e6).collect()}
    assert a == b


def _psi_numpy(values_by_part, bins, lo, hi, eps=1e-6):
    """Independent numpy reference of the PSI formula (same binning)."""
    width = (hi - lo) / bins
    counts = {
        p: np.bincount(
            np.clip(np.floor((np.asarray(v) - lo) / width).astype(int), 0, bins - 1),
            minlength=bins,
        )
        for p, v in values_by_part.items()
    }
    total = sum(counts.values())
    out = {}
    for p, c in counts.items():
        n_part = c.sum()
        n_rest = total.sum() - n_part
        p_part = np.maximum(c / n_part, eps)
        p_rest = np.maximum((total - c) / n_rest, eps)
        # only bins present in the total histogram exist in the dense grid
        mask = total > 0
        out[p] = float(
            ((p_part - p_rest) * np.log(p_part / p_rest))[mask].sum()
        )
    return out


def test_drift_report_psi(spark):
    """drift_report's PSI matches an independent numpy implementation; identical
    distributions score ~0, a shifted partition scores past the 0.25
    'major shift' alarm threshold."""
    rng = np.random.default_rng(7)
    vals = {
        "a": rng.normal(0.0, 1.0, 4000),
        "b": rng.normal(0.0, 1.0, 4000),
        "c": rng.normal(2.0, 1.0, 4000),
    }
    rows = [
        Row(part=p, v=float(x)) for p, arr in vals.items() for x in arr
    ]
    df = spark.createDataFrame(rows)
    got = {
        r.part: r.psi
        for r in tc.drift_report(
            df, "v", "part", bins=64, lo=-5.0, hi=5.0
        ).collect()
    }
    want = _psi_numpy(vals, 64, -5.0, 5.0)
    for p in vals:
        assert got[p] == pytest.approx(want[p], abs=2e-6)
    # c is mean-shifted by 2 sigma → major shift vs rest; and its presence
    # in the "rest" pool drifts a and b past stable too (one-vs-rest)
    assert got["c"] > 0.25

    # iid-only frame: with the shifted partition removed, one-vs-rest
    # compares two same-distribution samples → stable (< 0.1)
    iid = spark.createDataFrame(
        [Row(part=p, v=float(x)) for p in ("a", "b") for x in vals[p]]
    )
    stable = {
        r.part: r.psi
        for r in tc.drift_report(
            iid, "v", "part", bins=64, lo=-5.0, hi=5.0
        ).collect()
    }
    assert stable["a"] < 0.1 and stable["b"] < 0.1


def test_drift_report_psi_scan_discipline_and_degenerate(spark):
    """Fixed-domain PSI is action-free at plan-construction time (the
    binned-KS scale gate: one scaffolding serves every column); a
    degenerate domain yields psi=0 rows instead of a divide-by-zero."""
    import uuid

    df = spark.createDataFrame(
        [Row(part="a" if i % 3 else "b", v=float(i % 17)) for i in range(300)]
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"psi-probe-{uuid.uuid4()}"
    sc.setJobGroup(group, "psi scan-discipline probe")
    try:
        tc.drift_report(df, "v", "part", lo=0.0, hi=16.0)
    finally:
        sc.setJobGroup(None, None)
    assert len(tracker.getJobIdsForGroup(group)) == 0

    const = spark.createDataFrame([Row(part="a", v=3.0), Row(part="b", v=3.0)])
    out = {r.part: r.psi for r in tc.drift_report(const, "v", "part").collect()}
    assert out == {"a": 0.0, "b": 0.0}


def _w1_numpy(values_by_part, bins, lo, hi):
    """Independent numpy reference: full densification over ALL bins
    (the operator instead span-weights occupied bins — must agree)."""
    width = (hi - lo) / bins
    counts = {
        p: np.bincount(
            np.clip(np.floor((np.asarray(v) - lo) / width).astype(int), 0, bins - 1),
            minlength=bins,
        )
        for p, v in values_by_part.items()
    }
    total = sum(counts.values())
    out = {}
    for p, c in counts.items():
        cdf_p = np.cumsum(c) / c.sum()
        rest = total - c
        cdf_r = np.cumsum(rest) / rest.sum()
        out[p] = float(np.abs(cdf_p - cdf_r).sum() * width)
    return out


def test_drift_report_wasserstein(spark):
    """drift_report's W1 matches a fully-densified numpy reference (exercising the
    span weighting across empty interior bins), and a pure mean shift
    of delta reports W1 ~ delta in value units."""
    rng = np.random.default_rng(11)
    vals = {
        "base": rng.normal(0.0, 1.0, 6000),
        "shift": rng.normal(1.0, 1.0, 6000),
    }
    df = spark.createDataFrame(
        [Row(part=p, v=float(x)) for p, arr in vals.items() for x in arr]
    )
    got = {
        r.part: r.w1
        for r in tc.drift_report(
            df, "v", "part", bins=512, lo=-6.0, hi=7.0
        ).collect()
    }
    want = _w1_numpy(vals, 512, -6.0, 7.0)
    for p in vals:
        assert got[p] == pytest.approx(want[p], abs=2e-6)
    # one-vs-rest with two equal-size parts: each sees the other as rest,
    # and the mean shift is 1.0 in value units
    assert got["base"] == pytest.approx(1.0, abs=0.06)
    assert got["shift"] == pytest.approx(1.0, abs=0.06)

    # sparse extreme: values only at 0 and 100 with 1000 bins — nearly
    # every interior bin is empty; span weighting must still integrate
    # the persistent gap exactly
    sparse_vals = {
        "a": [0.0] * 80 + [100.0] * 20,
        "b": [0.0] * 20 + [100.0] * 80,
    }
    sparse = spark.createDataFrame(
        [Row(part=p, v=x) for p, arr in sparse_vals.items() for x in arr]
    )
    got_s = {
        r.part: r.w1
        for r in tc.drift_report(
            sparse, "v", "part", bins=1000, lo=0.0, hi=100.0
        ).collect()
    }
    want_s = _w1_numpy(sparse_vals, 1000, 0.0, 100.0)
    for p in sparse_vals:
        assert got_s[p] == pytest.approx(want_s[p], abs=2e-6)
    # |0.8-0.2| gap persisting over the full [0,100) span -> W1 = 60
    assert got_s["a"] == pytest.approx(59.94, abs=0.1)


def test_snapshot_diff(spark):
    """Planted add/remove/change are each classified; unchanged rows are
    dropped; incremental revalidation set = added + changed."""
    from pyspark.sql import functions as F

    old = spark.createDataFrame([
        Row(repo="r1", path="a.py", content="alpha"),
        Row(repo="r1", path="b.py", content="beta"),
        Row(repo="r2", path="c.py", content="gamma"),
    ]).withColumn("content_sha256", F.sha2("content", 256))
    new = spark.createDataFrame([
        Row(repo="r1", path="a.py", content="alpha"),        # unchanged
        Row(repo="r1", path="b.py", content="beta v2"),      # changed
        Row(repo="r3", path="d.py", content="delta"),        # added
    ]).withColumn("content_sha256", F.sha2("content", 256))

    out = {(r.repo, r.path): r.change_type
           for r in tc.snapshot_diff(old, new, ["repo", "path"]).collect()}
    assert out == {
        ("r1", "b.py"): "changed",
        ("r2", "c.py"): "removed",
        ("r3", "d.py"): "added",
    }

    # NULL-content hardening: presence comes from markers, not hash
    # nullability — a key in BOTH snapshots with NULL content on one or
    # both sides is 'changed' / unchanged, never added/removed
    oldn = spark.createDataFrame([
        Row(repo="r9", path="n.py", content=None),      # null -> null: unchanged
        Row(repo="r9", path="m.py", content="body"),    # value -> null: changed
        Row(repo="r9", path="k.py", content=None),      # null -> value: changed
    ]).withColumn("content_sha256", F.sha2("content", 256))
    newn = spark.createDataFrame([
        Row(repo="r9", path="n.py", content=None),
        Row(repo="r9", path="m.py", content=None),
        Row(repo="r9", path="k.py", content="body"),
    ]).withColumn("content_sha256", F.sha2("content", 256))
    outn = {r.path: r.change_type
            for r in tc.snapshot_diff(oldn, newn, ["repo", "path"]).collect()}
    assert outn == {"m.py": "changed", "k.py": "changed"}

    # incremental set: semi-join new against added/changed keys
    todo = new.join(
        tc.snapshot_diff(old, new, ["repo", "path"])
          .where(F.col("change_type") != "removed"),
        ["repo", "path"],
        "left_semi",
    )
    assert sorted(r.path for r in todo.collect()) == ["b.py", "d.py"]


def _ks_binned_numpy(values_by_part, bins, lo, hi):
    """Independent numpy reference of the binned one-vs-rest KS: the
    largest ECDF gap over fixed-width bins (same binning)."""
    width = (hi - lo) / bins
    counts = {
        p: np.bincount(
            np.clip(np.floor((np.asarray(v) - lo) / width).astype(int), 0, bins - 1),
            minlength=bins,
        )
        for p, v in values_by_part.items()
    }
    total = sum(counts.values())
    out = {}
    for p, c in counts.items():
        rest = total - c
        cdf_p = np.cumsum(c) / c.sum()
        cdf_r = np.cumsum(rest) / rest.sum()
        out[p] = float(np.abs(cdf_p - cdf_r).max())
    return out


def test_drift_report_equals_numpy_references(spark):
    """The one-pass report's three columns each equal their standalone
    numpy reference, and the report stays action-free with a fixed
    domain."""
    import uuid

    rng = np.random.default_rng(23)
    vals = {"a": rng.normal(0, 1, 2000), "b": rng.normal(0.7, 1.3, 2500)}
    rows = [Row(part=p, v=float(x)) for p, arr in vals.items() for x in arr]
    df = spark.createDataFrame(rows)
    kw = dict(bins=256, lo=-6.0, hi=7.0)
    rep = {r.part: r for r in tc.drift_report(df, "v", "part", **kw).collect()}
    ks = _ks_binned_numpy(vals, 256, -6.0, 7.0)
    psi = _psi_numpy(vals, 256, -6.0, 7.0)
    w1 = _w1_numpy(vals, 256, -6.0, 7.0)
    for p in ("a", "b"):
        assert rep[p].ks_d == pytest.approx(ks[p], abs=2e-6)
        assert rep[p].psi == pytest.approx(psi[p], abs=2e-6)
        assert rep[p].w1 == pytest.approx(w1[p], abs=2e-6)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"drift-report-{uuid.uuid4()}"
    sc.setJobGroup(group, "drift-report action probe")
    try:
        tc.drift_report(df, "v", "part", **kw)
    finally:
        sc.setJobGroup(None, None)
    assert len(tracker.getJobIdsForGroup(group)) == 0


def test_drift_inverted_explicit_domain_raises(spark):
    """An explicitly inverted lo/hi domain (swapped arguments) must raise,
    not silently report 0.0 drift forever; a data-derived degenerate
    domain keeps the zero-statistic fallback."""
    import pytest

    df = spark.createDataFrame(
        [Row(part="a", v=float(i)) for i in range(10)]
        + [Row(part="b", v=float(i)) for i in range(10)]
    )
    with pytest.raises(ValueError, match="inverted drift domain"):
        tc.drift_report(df, "v", "part", lo=7.0, hi=1.0)
    # constant column (data-derived degenerate domain): still the 0.0 fallback
    const = spark.createDataFrame([Row(part="a", v=1.0), Row(part="b", v=1.0)])
    out = {r.part: (r.ks_d, r.psi, r.w1)
           for r in tc.drift_report(const, "v", "part").collect()}
    assert out == {"a": (0.0, 0.0, 0.0), "b": (0.0, 0.0, 0.0)}


def test_exact_quantiles_percentile_parity(spark):
    """exact_quantiles must be BIT-FOR-BIT equal to the built-in exact
    `percentile` (same order statistics, same interpolation IEEE order)
    — the r8 contract that let the registry quantile query drop the
    single-reducer value-buffer aggregate. Covers interpolated and
    integral positions, duplicate-heavy data, negatives, NULLs, and a
    forced multi-level refinement (tiny bins/collect budget)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    vals = (
        [round(rng.uniform(-1000, 1000), 2) for _ in range(4000)]
        + [42.0] * 500                      # heavy duplicate mass
        + [-1000.5, 999.75]                 # exact extremes
    )
    rows = [Row(v=v) for v in vals] + [Row(v=None)] * 25
    df = spark.createDataFrame(rows)
    qs = (0.0, 0.25, 0.5, 0.613, 0.75, 0.95, 1.0)
    arr = ", ".join(str(q) for q in qs)
    [ref] = df.agg(
        F.expr(f"percentile(v, array({arr}))").alias("ps")
    ).collect()
    mine = tc.exact_quantiles(df, "v", qs)
    assert mine == list(ref["ps"])
    # forced refinement: 8 bins, 10-row collect budget → several levels
    deep = tc.exact_quantiles(
        df, "v", qs, bins=8, collect_budget=10, max_refine=6
    )
    assert deep == list(ref["ps"])


def test_exact_quantiles_degenerate_inputs(spark):
    """Empty column → all None; constant column → the constant; a
    single row → that row for every quantile."""
    empty = spark.createDataFrame([Row(v=None)] * 3, "v double")
    assert tc.exact_quantiles(empty, "v", (0.25, 0.5)) == [None, None]
    const = spark.createDataFrame([Row(v=3.25)] * 10)
    assert tc.exact_quantiles(const, "v", (0.1, 0.9)) == [3.25, 3.25]
    one = spark.createDataFrame([Row(v=-7.5)])
    assert tc.exact_quantiles(one, "v", (0.0, 0.5, 1.0)) == [-7.5] * 3


def test_topk_per_group_is_lossless(spark):
    """The batch-local per-group cut must be a pure row SELECTION
    that reproduces the unpruned window bit-for-bit — including ties
    broken by id, NaN (Spark desc = NaN first), NULL order values
    (desc = NULLs last), and groups smaller than k."""
    import math
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from jsl_engine.partitioning import topk_per_group

    rng = random.Random(5)
    rows = [
        Row(g=f"g{i % 7}", id=i, v=float(rng.choice([1, 2, 3, 4, 5])))
        for i in range(2000)
    ]
    rows += [
        Row(g="g0", id=10_001, v=float("nan")),
        Row(g="g1", id=10_002, v=None),
        Row(g="lonely", id=10_003, v=9.9),
    ]
    df = spark.createDataFrame(rows).repartition(5)
    w = Window.partitionBy("g").orderBy(F.desc("v"), F.asc("id"))

    def ranked(frame):
        return sorted(
            (r.g, r.rank, r.id, None if r.v is None else (
                "nan" if math.isnan(r.v) else r.v))
            for r in frame.collect()
        )

    got = topk_per_group(df, ["g"], [("v", "desc"), ("id", "asc")], 3)
    want = df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 3)
    assert ranked(got) == ranked(want)
    # Arrow's spelling of a direction is not silently read as "desc"
    with pytest.raises(ValueError, match="'asc' or 'desc'"):
        topk_per_group(df, ["g"], [("v", "descending"), ("id", "asc")], 3)


def test_topk_per_group_asc_nan_null_two_group_cols(spark):
    """An ascending float order key holding NaN and NULL, under two group
    columns (one a double with NaN and NULL group keys), equals the plain
    ``row_number`` window row for row. Spark's ascending order puts NULL
    first and NaN above every number, so each batch's cut must keep the
    NULL-valued rows (Arrow alone would sort them last) and may drop
    NaN-valued rows only behind k numbers. Spark groups all NaN keys
    together; the cut splits them into singleton runs and the window
    trims that superset."""
    import math
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from jsl_engine.partitioning import topk_per_group

    nan = float("nan")
    rng = random.Random(12)
    rows = []
    for i in range(3000):
        g1 = rng.choice(["a", "b", None])
        g2 = rng.choice([1.0, 2.0, nan, None])
        v = rng.choice([0.5, 1.5, 2.5, -0.0, 0.0, nan, None, rng.random()])
        rows.append((g1, g2, i, v))
    df = spark.createDataFrame(
        rows, "g1 string, g2 double, id long, v double"
    ).repartition(3)
    k = 4
    w = Window.partitionBy("g1", "g2").orderBy(F.asc("v"), F.asc("id"))

    def rows_of(frame):
        return sorted(
            (tuple("nan" if isinstance(x, float) and math.isnan(x) else x
                   for x in r)
             for r in frame.select("g1", "g2", "rank", "id", "v").collect()),
            key=repr,
        )

    want = rows_of(
        df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    )
    got = rows_of(topk_per_group(df, ["g1", "g2"], [("v", "asc"), ("id", "asc")], k))
    assert got == want
    # all 12 groups are ranked, each led by a NULL value
    assert sum(1 for r in want if r[2] == 1) == 12
    assert all(r[4] is None for r in want if r[2] == 1)
