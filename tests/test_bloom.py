"""Bloom-prefiltered exact decontamination (jsl_engine.bloom).

The contract under test is *bit-for-bit equality* with the exact JVM
operator :func:`jsl_engine.text_ops.contamination` — the Bloom filter
may only change the plan (a map-only prefilter plus a candidate-
restricted verify join), never the answer. Parity is exercised under a
deliberately terrible false-positive rate so the verify tail is proven
to scrub Bloom false positives, and with ``min_hits`` above 1 so
partially-hit documents must still report exact counts.
"""

import random

import numpy as np
import pytest
from pyspark.sql import Row

from jsl_engine import text_ops as T
from jsl_engine.bloom import (
    bloom_contamination,
    bloom_params,
    build_gram_bloom,
    _probe_matrix,
    _set_bits,
    _test_all_k,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_bloom_params_shape():
    m, k = bloom_params(1_000_000, 1e-3)
    assert m % 64 == 0
    # ~14.4 bits/item at 0.1% and ~10 probes
    assert 14.3e6 < m < 14.5e6
    assert k == 10
    # degenerate inputs still produce a valid filter
    m0, k0 = bloom_params(0, 0.01)
    assert m0 >= 1024 and 1 <= k0 <= 16
    with pytest.raises(ValueError):
        bloom_params(10, 1.5)


def test_bitmap_primitives_roundtrip():
    """Bits set are bits found; untouched positions stay clear."""
    rng = np.random.default_rng(7)
    hashes = rng.integers(0, 2**63, size=100, dtype=np.uint64)
    m, k = 4096, 5
    bm = np.zeros(m // 64, dtype=np.uint64)
    pos = _probe_matrix(hashes, k, m)
    _set_bits(bm, pos)
    assert _test_all_k(bm, pos).all()
    # fresh hashes at this density mostly miss (sanity that test works)
    other = rng.integers(0, 2**63, size=1000, dtype=np.uint64)
    hit_rate = _test_all_k(bm, _probe_matrix(other, k, m)).mean()
    assert hit_rate < 0.1


@pytest.fixture()
def planted(spark):
    bench = spark.createDataFrame([
        Row(doc_id=100, text="the capital of france is paris"),
        Row(doc_id=101, text="water boils at one hundred degrees"),
    ])
    corpus = spark.createDataFrame([
        Row(doc_id=1, text="trivia dump says the capital of france is paris today"),
        Row(doc_id=2, text="completely unrelated text about gardening and soil"),
        Row(doc_id=3, text="soup boils at home"),
        Row(doc_id=4, text=""),
        # exactly one benchmark trigram ("water boils at") — must report
        # n_hits=1 even when min_hits=3 keeps it un-flagged
        Row(doc_id=5, text="kettle watch water boils at dawn chores"),
    ])
    return corpus, bench


def test_bloom_matches_exact_planted(spark, planted):
    corpus, bench = planted
    exact = _rows(T.contamination(corpus, bench, n=3))
    assert _rows(bloom_contamination(corpus, bench, n=3)) == exact


def test_bloom_min_hits_partial_doc_reports_exact_counts(spark, planted):
    """min_hits>1: doc 5 (one true hit) stays below the flag threshold
    but must report n_hits=1, not 0 — the candidate cut is bloom_hits>=1,
    not bloom_hits>=min_hits."""
    corpus, bench = planted
    exact = _rows(T.contamination(corpus, bench, n=3, min_hits=3))
    out = bloom_contamination(corpus, bench, n=3, min_hits=3)
    assert _rows(out) == exact
    got = {r.doc_id: r for r in out.collect()}
    assert got[5].n_hits == 1 and not got[5].contaminated
    assert got[1].n_hits == 4 and got[1].contaminated


def test_bloom_false_positives_are_scrubbed(spark, planted):
    """fp_rate=0.5 floods the prefilter with false positives; the verify
    tail must still produce the exact answer."""
    corpus, bench = planted
    exact = _rows(T.contamination(corpus, bench, n=3))
    assert _rows(bloom_contamination(corpus, bench, n=3, fp_rate=0.5)) == exact


def test_bloom_empty_benchmark(spark):
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc number {i} about topic {i % 3}") for i in range(6)]
    )
    bench = corpus.where("doc_id < 0")
    out = bloom_contamination(corpus, bench, n=3).collect()
    assert len(out) == 6
    assert all(r.n_hits == 0 and not r.contaminated for r in out)


def test_bloom_matches_exact_random_corpus(spark):
    """Parity on a 200-doc seeded word-salad corpus with planted leaks —
    catches anything the tiny fixtures miss (multi-partition build,
    cross-partition duplicate grams, verify-tail grouping)."""
    rng = random.Random(20260817)
    vocab = [f"w{i}" for i in range(300)]
    bench_rows = [
        Row(doc_id=1000 + i, text=" ".join(rng.choices(vocab, k=30)))
        for i in range(10)
    ]
    bench_texts = [r.text for r in bench_rows]
    corpus_rows = []
    for i in range(200):
        words = rng.choices(vocab, k=40)
        if i % 17 == 0:  # plant a verbatim benchmark window
            leak = bench_texts[i % 10].split()[:8]
            words[5:5] = leak
        corpus_rows.append(Row(doc_id=i, text=" ".join(words)))
    corpus = spark.createDataFrame(corpus_rows).repartition(7)
    bench = spark.createDataFrame(bench_rows).repartition(3)
    exact = _rows(T.contamination(corpus, bench, n=3))
    got = _rows(bloom_contamination(corpus, bench, n=3))
    assert got == exact
    # the planted leaks were actually flagged (test isn't vacuous)
    flagged = [t for t in got if t[4]]
    assert len(flagged) >= 10


def test_build_gram_bloom_no_false_negatives(spark):
    """Every benchmark gram probes positive against the built filter."""
    from jsl_engine.text_ops_arrow import _shingle_hash_batch

    texts = [f"alpha beta gamma delta epsilon {i}" for i in range(20)]
    bench = spark.createDataFrame([Row(text=t) for t in texts]).repartition(4)
    bitmap, m, k = build_gram_bloom(bench, n=3, fp_rate=1e-3)
    for t in texts:
        g = np.unique(_shingle_hash_batch([t], 3)[0])
        assert _test_all_k(bitmap, _probe_matrix(g, k, m)).all()


def test_bloom_treeaggregate_build_path_parity(spark, planted, monkeypatch):
    """Forcing the executor-side treeAggregate build (the big-bitmap
    path) must give the same filter — and the same exact answer — as
    the collect-and-OR path."""
    import jsl_engine.bloom as B

    corpus, bench = planted
    exact = _rows(T.contamination(corpus, bench, n=3))
    monkeypatch.setattr(B, "_COLLECT_BITMAP_BYTES", 0)
    assert _rows(B.bloom_contamination(corpus, bench, n=3)) == exact


def test_bloom_expected_grams_skips_sizing_and_stays_exact(spark, planted):
    """Caller-supplied sizing (grossly wrong in both directions) must
    not change the answer — exactness never depends on the filter
    geometry."""
    corpus, bench = planted
    exact = _rows(T.contamination(corpus, bench, n=3))
    for eg in (1, 10_000_000):
        assert _rows(
            bloom_contamination(corpus, bench, n=3, expected_grams=eg)
        ) == exact


def test_bloom_plan_shape(spark, planted):
    """Scale gates: the verify tail reads candidate texts off the probe
    output (NO join back onto the corpus — the corpus parquet/scan
    appears once in the plan), and nothing degenerates into a
    CartesianProduct."""
    corpus, bench = planted
    plan = (
        bloom_contamination(corpus, bench, n=3)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # both output branches read the ONE checkpointed probe output
    # (localCheckpoint shows as LogicalRDD); the candidate branch must
    # not join back onto the corpus input. The bloom_hits filters may be
    # merged with the gram kernel's isnotnull(text) guard by the
    # optimizer, so count the predicate, not the exact Filter string.
    assert plan.count("bloom_hits") >= 2
    assert plan.count("LogicalRDD") >= 2
    assert "Join LeftOuter" in plan and plan.count("Join") == 1


def test_bloom_job_count_with_known_sizing(spark, planted):
    """The round-4 verdict gate: with expected_grams supplied (the
    production shape), plan construction runs exactly ONE job (the
    filter-build collect — the sizing pass is skipped), and the whole
    answer is then ONE output action (whose AQE stage-jobs all share the
    single checkpointed probe pass — no re-scan of the corpus)."""
    corpus, bench = planted
    exact = _rows(T.contamination(corpus, bench, n=3))
    sc = spark.sparkContext
    sc.setJobGroup("bloom_build_gate", "construction jobs", False)
    try:
        out = bloom_contamination(corpus, bench, n=3, expected_grams=500)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    build_jobs = sc.statusTracker().getJobIdsForGroup("bloom_build_gate")
    assert len(build_jobs) == 1, f"expected 1 build job, ran {len(build_jobs)}"
    assert _rows(out) == exact


def test_bloom_sharded_matches_unsharded(spark, planted):
    """Round-6 verdict item 5: gram-range sharding (the tier for
    blocklists past one executor's broadcast budget) must be invisible
    in the answer — sharded == unsharded == exact, for several shard
    counts, including more shards than some documents have grams."""
    corpus, bench = planted
    exact = _rows(T.contamination(corpus, bench, n=3))
    for n_shards in (2, 3, 8):
        got = _rows(bloom_contamination(corpus, bench, n=3, n_shards=n_shards))
        assert got == exact, f"n_shards={n_shards}"


def test_bloom_sharded_random_corpus_and_min_hits(spark):
    """Sharded parity on the seeded multi-partition word-salad corpus,
    with min_hits>1 (partial-hit docs must keep exact counts through
    the per-shard sum) and a flooded fp_rate (the verify tail scrubs
    per-shard false positives too)."""
    rng = random.Random(20260818)
    vocab = [f"w{i}" for i in range(300)]
    bench_rows = [
        Row(doc_id=1000 + i, text=" ".join(rng.choices(vocab, k=30)))
        for i in range(8)
    ]
    bench_texts = [r.text for r in bench_rows]
    corpus_rows = []
    for i in range(150):
        words = rng.choices(vocab, k=40)
        if i % 13 == 0:
            leak = bench_texts[i % 8].split()[:8]
            words[5:5] = leak
        corpus_rows.append(Row(doc_id=i, text=" ".join(words)))
    # degenerate rows a production corpus contains: NULL and empty text
    # (NULL must stay a non-candidate with NULL hit_rate in EVERY shard
    # — `t or ""` style handling would give it the empty doc's shingle)
    corpus_rows.append(Row(doc_id=900, text=None))
    corpus_rows.append(Row(doc_id=901, text=""))
    corpus = spark.createDataFrame(corpus_rows).repartition(7)
    bench = spark.createDataFrame(bench_rows).repartition(3)
    exact = _rows(T.contamination(corpus, bench, n=3, min_hits=2))
    got = _rows(
        bloom_contamination(
            corpus, bench, n=3, min_hits=2, n_shards=4, fp_rate=0.5
        )
    )
    assert got == exact
    assert any(t[4] for t in got)  # planted leaks actually flagged
    null_row = [t for t in got if t[0] == 900]
    assert null_row and null_row[0][1] == 0 and null_row[0][3] is None


def test_bloom_shard_mask_partitions_gram_space():
    """The shard slices must partition the hash space exactly: the
    per-shard pieces of any hash set are disjoint and their union is
    the whole set (this is what makes per-doc counts SUM across
    shards)."""
    from jsl_engine.bloom import _shard_mask

    rng = np.random.default_rng(42)
    g = np.unique(rng.integers(0, 2**63, size=5000, dtype=np.uint64))
    for n_shards in (1, 2, 5):
        pieces = [_shard_mask(g, n_shards, s) for s in range(n_shards)]
        assert sum(p.size for p in pieces) == g.size
        assert np.array_equal(np.sort(np.concatenate(pieces)), g)


def test_bloom_sharded_build_is_smaller_and_complete(spark, planted):
    """Each shard's filter is sized for its slice (smaller than the
    monolithic filter) and has no false negatives for its own grams."""
    from jsl_engine.bloom import _shard_mask
    from jsl_engine.text_ops_arrow import _shingle_hash_batch

    _, bench = planted
    texts = [r.text for r in bench.collect()]
    all_grams = np.unique(_shingle_hash_batch(texts, 3)[0])
    mono, m_mono, _ = build_gram_bloom(bench, n=3)
    for shard in range(2):
        bm, m, k = build_gram_bloom(bench, n=3, n_shards=2, shard=shard)
        assert m <= m_mono
        mine = _shard_mask(all_grams, 2, shard)
        assert _test_all_k(bm, _probe_matrix(mine, k, m)).all()
