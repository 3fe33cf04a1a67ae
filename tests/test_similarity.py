"""Similarity-search tests: brute-force cosine matches numpy exactly;
IVF cell assignment matches numpy; embedding near-dups find planted
clones."""

import numpy as np
import pytest
from pyspark.sql import Row

from jsl_engine import similarity as S
from jsl_engine.partitioning import _topk_cut, topk_per_group


def _np_cosine(a, b):
    return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(200, 16)).astype("float32")
    vecs[10] = vecs[5] + rng.normal(scale=0.01, size=16).astype("float32")  # near-dup pair
    rows = [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows).cache(), vecs


def test_brute_force_topk_matches_numpy(spark, vectors):
    df, vecs = vectors
    queries = df.where("vec_id in (0, 7)").selectExpr("vec_id as query_id", "embedding")
    out = S.brute_force_topk(df, queries, k=5)
    got = {(r.query_id, r.rank): (r.vec_id, r.cos_sim) for r in out.collect()}
    for qid in (0, 7):
        sims = sorted(
            ((_np_cosine(vecs[qid], v), -i) for i, v in enumerate(vecs)),
            reverse=True,
        )[:5]
        for rank, (sim, negi) in enumerate(sims, start=1):
            vec_id, cos_sim = got[(qid, rank)]
            assert vec_id == -negi
            assert cos_sim == pytest.approx(round(sim, 6), abs=2e-6)


def test_brute_force_self_is_rank1(spark, vectors):
    df, _ = vectors
    queries = df.limit(3).selectExpr("vec_id as query_id", "embedding")
    out = S.brute_force_topk(df, queries, k=1).collect()
    assert all(r.vec_id == r.query_id and r.cos_sim == 1.0 for r in out)


def test_embedding_near_duplicates(spark, vectors):
    df, _ = vectors
    out = S.embedding_near_duplicates(df, threshold=0.99, n_planes=8)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (5, 10) in pairs
    # random gaussians in 16d almost never hit 0.99 cosine
    assert len(pairs) <= 3


def test_embedding_near_dup_scores_are_exact_cosine(spark, vectors):
    """Every emitted pair carries its exact cosine (the numpy value,
    rounded to 6 places) and clears the threshold; each pair appears
    once, oriented ``id_a < id_b``, however many bands it collides in.
    At 2-plane bands nearly every qualifying pair collides somewhere
    (``1 - (1 - p^2)^8`` ≈ 99% at cosine 0.5), so the verify — not the
    bucketing — decides the output."""
    df, vecs = vectors
    vecs = vecs.astype("float64")  # Spark widens the float32 fixture exactly
    threshold = 0.5
    rows = S.embedding_near_duplicates(
        df, threshold=threshold, n_planes=2, dim=16
    ).collect()
    pairs = [(r.id_a, r.id_b) for r in rows]
    assert len(pairs) == len(set(pairs))
    for r in rows:
        assert r.id_a < r.id_b
        exact = round(_np_cosine(vecs[r.id_a], vecs[r.id_b]), 6)
        assert r.cos_sim == pytest.approx(exact, abs=2e-6)
        assert r.cos_sim >= threshold
    truth = {
        (a, b) for a in range(len(vecs)) for b in range(a + 1, len(vecs))
        if round(_np_cosine(vecs[a], vecs[b]), 6) >= threshold
    }
    assert set(pairs) <= truth
    assert len(truth) >= 50  # the fixture has real work for the verify
    assert len(set(pairs)) / len(truth) >= 0.9


def test_embedding_near_dup_oversized_bucket_guard(spark):
    """A dense cluster bigger than max_bucket must contribute ZERO pairs
    (pruned before the self-join), while a small planted pair in another
    bucket survives; with the guard relaxed the cluster pairs reappear."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=16)
    # 80 near-identical vectors -> one bucket of 80 (every SRP sign equal)
    cluster = [base + rng.normal(scale=1e-4, size=16) for _ in range(80)]
    other = -base  # opposite bucket
    pair = [other + rng.normal(scale=1e-4, size=16), other]
    vecs = cluster + pair
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)
    ]
    df = spark.createDataFrame(rows)

    guarded = S.embedding_near_duplicates(
        df, threshold=0.99, n_planes=8, max_bucket=64, dim=16
    )
    pairs = {(r.id_a, r.id_b) for r in guarded.collect()}
    # the 80-vector cluster (> max_bucket) is pruned entirely; the pair of
    # ids 80/81 in the small bucket is still found
    assert pairs == {(80, 81)}

    relaxed = S.embedding_near_duplicates(
        df, threshold=0.99, n_planes=8, max_bucket=1000, dim=16
    )
    n_relaxed = relaxed.count()
    assert n_relaxed >= 80 * 79 // 2  # cluster pairs all back


def test_ivf_topk_recall(spark):
    """IVF with clustered data: high recall vs brute force; full probe
    (n_probe = n_cells) must equal brute force exactly."""
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 16)) * 4
    vecs = np.vstack([c + rng.normal(scale=0.3, size=(100, 16)) for c in centers]).astype("float32")
    rows = [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows).cache()
    try:
        queries = df.where("vec_id in (0, 150, 350)").selectExpr(
            "vec_id as query_id", "embedding"
        )
        bf = {(r.query_id, r.vec_id) for r in S.brute_force_topk(df, queries, k=10).collect()}

        ivf = {(r.query_id, r.vec_id)
               for r in S.ivf_topk(df, queries, k=10, n_cells=8, n_probe=2).collect()}
        recall = len(bf & ivf) / len(bf)
        assert recall >= 0.9, recall

        full = S.ivf_topk(df, queries, k=10, n_cells=8, n_probe=8)
        got = {(r.query_id, r.rank): r.vec_id for r in full.collect()}
        want = {(r.query_id, r.rank): r.vec_id for r in S.brute_force_topk(df, queries, k=10).collect()}
        assert got == want
    finally:
        df.unpersist()


def test_ivf_centroids_deterministic(spark, vectors):
    df, _ = vectors
    a = S.train_ivf_centroids(df, n_cells=4)
    b = S.train_ivf_centroids(df, n_cells=4)
    assert a == b
    # id-ordered sampling: deterministic across partition layouts
    c = S.train_ivf_centroids(df.repartition(7), n_cells=4, id_col="vec_id")
    d = S.train_ivf_centroids(df.repartition(3), n_cells=4, id_col="vec_id")
    assert c == d


def test_assign_cells_arrow_matches_numpy_truth(spark):
    """IVF cell assignment against numpy: with ``n_probe=1`` each row's
    cell is the argmax of its centroid dot products, with ``n_probe=2``
    its cell set is the top-2 set. A full-probe top-k equality with
    brute force cannot see a wrong cell; this can."""
    rng = np.random.default_rng(17)
    vecs = rng.normal(size=(300, 16))
    cents = rng.normal(size=(8, 16))
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )
    scores = vecs @ cents.T
    centroids = [[float(x) for x in c] for c in cents]

    one = S.assign_cells_arrow(df, centroids, n_probe=1).collect()
    assert {r.vec_id: r.cell for r in one} == {
        i: int(np.argmax(scores[i])) for i in range(len(vecs))
    }

    two = {}
    for r in S.assign_cells_arrow(df, centroids, n_probe=2).collect():
        two.setdefault(r.vec_id, set()).add(r.cell)
    assert two == {
        i: set(int(c) for c in np.argsort(-scores[i])[:2])
        for i in range(len(vecs))
    }


def _clustered_embeddings(spark, n: int, dim: int, clusters: int):
    """Deterministic clustered synthetic embeddings, generated distributed
    with JVM hash expressions (no driver materialization): vec = planted
    cluster center + small per-(id,dim) noise."""
    from pyspark.sql import functions as F

    cl = F.pmod(F.xxhash64(F.col("id")), F.lit(clusters))

    def u(salt, a, b):  # uniform-ish in [-1, 1] from a counter hash
        return (F.pmod(F.xxhash64(a, b, F.lit(salt)), F.lit(2001)) - 1000) / 1000.0

    vec = F.array(*[u(1, cl, F.lit(j)) + 0.15 * u(2, F.col("id"), F.lit(j))
                    for j in range(dim)])
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        vec.cast("array<float>").alias("embedding"),
    )


def test_ivf_topk_at_scale_cell_count(spark):
    """n_cells=1024 over 100k clustered vectors: the Arrow assignment path
    must complete (the literal-array JVM path would generate a 1024×32-
    literal codegen tree) and recall vs brute force must beat the
    unclustered probe-fraction bound by a wide margin."""
    df = _clustered_embeddings(spark, 100_000, 32, clusters=64).cache()
    try:
        queries = df.where("vec_id in (1, 2, 3)").selectExpr(
            "vec_id as query_id", "embedding"
        )
        cents = S.train_ivf_centroids(df, n_cells=1024, id_col="vec_id",
                                      sample_rows=10_000, iterations=5)
        assert len(cents) == 1024
        ivf = {(r.query_id, r.vec_id)
               for r in S.ivf_topk(df, queries, k=10, centroids=cents,
                                   n_probe=32).collect()}
        bf = {(r.query_id, r.vec_id)
              for r in S.brute_force_topk(df, queries, k=10).collect()}
        recall = len(bf & ivf) / len(bf)
        # single-probe fraction would be ~3% (32/1024); clustered data must
        # put most true neighbors into the probed cells
        assert recall >= 0.5, recall
    finally:
        df.unpersist()


def test_distributed_trainer_matches_driver_on_full_sample(spark):
    """When the corpus fits the driver trainer's sample, both trainers see
    the same data, the same init and the same Lloyd math — centroids must
    agree to float-summation tolerance, proving the distributed reduce is
    the same algorithm, not a variant."""
    rng = np.random.default_rng(23)
    vecs = rng.normal(size=(600, 16)).astype("float32")
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )
    a = np.array(S.train_ivf_centroids(df, n_cells=5, id_col="vec_id",
                                       sample_rows=10_000))
    b = np.array(S.train_ivf_centroids_distributed(df, n_cells=5))
    assert np.allclose(a, b, atol=1e-6), np.abs(a - b).max()
    # partition-layout independent (same tolerance)
    c = np.array(S.train_ivf_centroids_distributed(df.repartition(7), n_cells=5))
    assert np.allclose(b, c, atol=1e-6)


def test_distributed_trainer_recall_on_clustered_corpus(spark):
    """Distributed-trained quantizer on planted clusters: ivf_topk with a
    fraction of the cells probed must keep high recall (the cell balance
    a corpus-wide trainer is for), and the permille-sampled training path
    must work."""
    df = _clustered_embeddings(spark, 20_000, 16, clusters=8).cache()
    try:
        queries = df.where("vec_id in (1, 2, 3)").selectExpr(
            "vec_id as query_id", "embedding"
        )
        bf = {(r.query_id, r.vec_id)
              for r in S.brute_force_topk(df, queries, k=10).collect()}
        ivf = {(r.query_id, r.vec_id)
               for r in S.ivf_topk(
                   df, queries, k=10, n_cells=8, n_probe=2,
                   centroids=S.train_ivf_centroids_distributed(df, n_cells=8),
               ).collect()}
        assert len(bf & ivf) / len(bf) >= 0.9
        # deterministic hash-sampled training (10% of the corpus)
        cents = S.train_ivf_centroids_distributed(
            df, n_cells=8, train_permille=100, iterations=5
        )
        again = S.train_ivf_centroids_distributed(
            df.repartition(5), n_cells=8, train_permille=100, iterations=5
        )
        assert np.allclose(np.array(cents), np.array(again), atol=1e-6)
    finally:
        df.unpersist()


def test_embedding_near_dup_banded_recall(spark):
    """50 planted pairs at cosine ≈ 0.98: banded SRP (8 × 12 defaults)
    must recover ≥ 90% (a single 12-bit bucket catches only ~45% — the
    round-4 review finding this pins)."""
    rng = np.random.default_rng(77)
    rows, want = [], set()
    for i in range(50):
        base = rng.normal(size=32)
        base /= np.linalg.norm(base)
        # a controlled-angle partner: cos ≈ 0.98
        noise = rng.normal(size=32)
        noise -= (noise @ base) * base
        noise /= np.linalg.norm(noise)
        partner = 0.98 * base + np.sqrt(1 - 0.98**2) * noise
        rows.append(Row(vec_id=2 * i, embedding=[float(x) for x in base]))
        rows.append(Row(vec_id=2 * i + 1, embedding=[float(x) for x in partner]))
        want.add((2 * i, 2 * i + 1))
    df = spark.createDataFrame(rows)
    got = {(r.id_a, r.id_b)
           for r in S.embedding_near_duplicates(df, threshold=0.97).collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.9, recall


# ---------------------------------------------------------------------------
# the exact arms' ranking: topk_per_group's lossless batch-local cut
# ---------------------------------------------------------------------------

#: The exact arms' rank order, as :func:`S._ranked_topk` states it.
_COS_ORDER = [("cos_sim", "desc"), ("vec_id", "asc")]


def _windowed_reference_topk(scored, k, id_col="vec_id"):
    """The pre-prune implementation: global per-query window straight
    over the scored rows — the correctness reference the pruned arm
    must reproduce bit-for-bit."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def test_prune_matches_unpruned_window_bit_for_bit(spark, vectors):
    df, _ = vectors
    queries = df.where("vec_id in (0, 7, 13)").selectExpr(
        "vec_id as query_id", "embedding"
    )
    got = sorted(
        map(tuple, S.brute_force_topk(df, queries, k=7).collect())
    )
    # reference: identical scoring expression, NO prune
    from pyspark.sql import functions as F

    q = F.broadcast(queries.selectExpr("query_id", "embedding as q_vec"))
    scored = df.crossJoin(q).select(
        "query_id",
        "vec_id",
        F.round(S.cosine(F.col("embedding"), F.col("q_vec")), 6).alias("cos_sim"),
    )
    want = sorted(map(tuple, _windowed_reference_topk(scored, 7).collect()))
    assert got == want


def test_prune_stable_under_repartition(spark, vectors):
    """Ties and batch boundaries must not move the answer: any
    repartitioning of the corpus yields the identical ranked table."""
    df, _ = vectors
    queries = df.where("vec_id in (0, 7)").selectExpr(
        "vec_id as query_id", "embedding"
    )
    base = sorted(map(tuple, S.brute_force_topk(df, queries, k=9).collect()))
    for nparts in (1, 3, 13):
        got = sorted(
            map(
                tuple,
                S.brute_force_topk(df.repartition(nparts), queries, k=9).collect(),
            )
        )
        assert got == base


def test_prune_window_input_is_o_partitions_not_o_rows(spark, vectors):
    """The row-count gate from the round-4 verdict: the ranking window's
    input (the pruned frame) must carry ≤ queries × k × batches rows —
    with maxRecordsPerBatch ≥ partition size, batches == partitions."""
    from pyspark.sql import functions as F

    df, _ = vectors
    n_parts, k, n_queries = 5, 4, 3
    queries = df.where("vec_id in (0, 7, 13)").selectExpr(
        "vec_id as query_id", "embedding"
    )
    q = F.broadcast(queries.selectExpr("query_id", "embedding as q_vec"))
    corpus = df.repartition(n_parts)
    scored = corpus.crossJoin(q).select(
        "query_id",
        "vec_id",
        F.round(S.cosine(F.col("embedding"), F.col("q_vec")), 6).alias("cos_sim"),
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1000000")
    try:
        pruned_rows = _topk_cut(scored, ["query_id"], _COS_ORDER, k).count()
    finally:
        # conf.get(key, None) returns None for an UNSET key (it does not
        # surface the ConfigEntry default), so restore means unset here —
        # a bare skip would leak 1M-row Arrow batches into every later
        # test on the shared session
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        else:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    total = corpus.count() * n_queries
    assert pruned_rows <= n_queries * k * n_parts
    assert pruned_rows < total  # it actually cut something


def test_prune_nan_scores_match_window_nan_first_order(spark):
    """Spark's descending double order ranks NaN FIRST (above every
    number) while Arrow's descending sort places NaN after the numbers
    — the prune must reproduce Spark's order or a NaN-scored row the
    window ranks #1 gets cut map-side. Regression for the round-5
    review finding: batches larger than k, more than k non-NaN rows,
    several NaN rows (NaN-vs-NaN ties break by vec_id asc, since Spark
    treats NaN = NaN)."""
    from pyspark.sql import Row

    nan = float("nan")
    rows = [Row(query_id=1, vec_id=i, cos_sim=1.0 - i / 100.0) for i in range(20)]
    rows += [Row(query_id=1, vec_id=100 + i, cos_sim=nan) for i in range(3)]
    scored = spark.createDataFrame(rows).coalesce(1)  # one batch > k, mixed
    k = 4
    want = sorted(
        map(tuple, _windowed_reference_topk(scored, k).collect())
    )
    got = sorted(
        map(tuple, topk_per_group(scored, ["query_id"], _COS_ORDER, k).collect())
    )

    def norm(t):
        return tuple("nan" if x != x else x for x in t)

    assert [norm(t) for t in got] == [norm(t) for t in want]
    # and the window really does rank the NaN rows first: 100,101,102
    top = {(r.rank, r.vec_id) for r in _windowed_reference_topk(scored, 3).collect()}
    assert top == {(1, 100), (2, 101), (3, 102)}


def test_prune_handles_small_batches_and_duplicate_scores(spark):
    """Batches smaller than k pass through; exact score ties break by
    vec_id ascending, same as the window."""
    from pyspark.sql import Row

    rows = [Row(query_id=1, vec_id=i, cos_sim=1.0) for i in range(6)]
    scored = spark.createDataFrame(rows).repartition(4)
    out = topk_per_group(scored, ["query_id"], _COS_ORDER, 3)
    got = sorted((r.rank, r.vec_id) for r in out.collect())
    assert got == [(1, 0), (2, 1), (3, 2)]


def test_degenerate_vectors_null_zero_nan(spark):
    """The round-5 corrupt-vector pins, at the operator level:

    - a NULL embedding row crashes nothing (it used to break IVF
      training with a ragged numpy stack) and never appears in results;
    - a zero-norm vector's cosine is NULL (a bare division would THROW
      under ANSI mode and kill the whole job), so it is never a
      neighbor;
    - a NaN-component vector's cosine is NULL too (NaN would rank
      FIRST in every query's descending top-k window otherwise)."""
    import math

    from pyspark.sql import Row

    dim = 8
    base = [
        Row(vec_id=i, embedding=[float((i * 7 + j) % 5 - 2) for j in range(dim)])
        for i in range(20)
    ]
    corner = [
        Row(vec_id=100, embedding=None),
        Row(vec_id=101, embedding=[0.0] * dim),
        Row(vec_id=102, embedding=[float("nan")] + [1.0] * (dim - 1)),
    ]
    df = spark.createDataFrame(
        base + corner, "vec_id long, embedding array<double>"
    )
    queries = df.where("vec_id in (0, 3)").selectExpr(
        "vec_id as query_id", "embedding"
    )

    out = S.brute_force_topk(df, queries, k=25).collect()
    ids = {r.vec_id for r in out}
    assert not ids & {100, 101, 102}
    assert all(r.cos_sim is not None and not math.isnan(r.cos_sim) for r in out)

    # IVF training survives the NULL row; full-probe equals brute force
    cents = S.train_ivf_centroids(df, n_cells=4, id_col="vec_id")
    assert len(cents) == 4
    ivf = S.ivf_topk(df, queries, k=25, n_cells=4, n_probe=4,
                     centroids=cents).collect()
    assert sorted(map(tuple, ivf)) == sorted(map(tuple, out))

    # near-dup never pairs degenerate vectors (NaN >= threshold would
    # be TRUE in Spark's comparison semantics without the NULL pin)
    pairs = S.embedding_near_duplicates(df, threshold=0.2, dim=dim).collect()
    flat = {v for r in pairs for v in (r.id_a, r.id_b)}
    assert not flat & {100, 101, 102}


def test_nan_vector_cannot_poison_training(spark):
    """One NaN-component vector among the smallest ids (= inside every
    deterministic training sample) must not reach the trainers: an
    unmasked NaN row becomes a NaN centroid and argmax then assigns
    EVERY vector to it — the whole IVF index collapses into one cell;
    a NaN row in a PQ codebook makes every vector encode to identical
    codes (round-5 review regression, verified numerically)."""
    import math

    import numpy as np
    from pyspark.sql import Row

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(60, 16))
    rows = [Row(vec_id=i + 10, embedding=[float(x) for x in v])
            for i, v in enumerate(vecs)]
    rows.append(Row(vec_id=0, embedding=[float("nan")] + [1.0] * 15))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = S.train_ivf_centroids(df, n_cells=4, id_col="vec_id")
    assert all(math.isfinite(x) for row in cents for x in row)
    cents_d = S.train_ivf_centroids_distributed(df, n_cells=4, id_col="vec_id")
    assert all(math.isfinite(x) for row in cents_d for x in row)
    # the index is not collapsed: every cell keeps a finite centroid and
    # assignment spreads across >1 cell
    from jsl_engine.similarity import assign_cells_arrow

    assigned = assign_cells_arrow(
        df.where("vec_id > 0").select("vec_id", "embedding"), cents, n_probe=1
    )
    n_cells_used = assigned.select("cell").distinct().count()
    assert n_cells_used > 1

    from jsl_engine import pq as P

    cb = P.train_pq_codebooks(df, m_sub=4, k_codes=4, id_col="vec_id")
    assert np.isfinite(cb).all()
    cb_d = P.train_pq_codebooks_distributed(df, m_sub=4, k_codes=4,
                                            id_col="vec_id")
    assert np.isfinite(cb_d).all()


def test_semantic_dedup_keep_rule(spark, vectors):
    """SemDeDup pairwise-greedy keep rule: in the planted clone pair
    (5, 10), the lower id is kept and the higher dropped; every vector
    gets exactly one row; unique vectors keep with n_dups = 0; and the
    output is a pure function of the verified pair list."""
    df, _ = vectors
    out = {r.vec_id: r for r in S.semantic_dedup(df, threshold=0.99, n_planes=8).collect()}
    assert len(out) == 200
    assert out[5].kept and out[5].n_dups >= 1
    assert not out[10].kept and out[10].n_dups >= 1
    pairs = S.embedding_near_duplicates(df, threshold=0.99, n_planes=8).collect()
    dropped_expect = {r.id_b for r in pairs}
    deg = {}
    for r in pairs:
        deg[r.id_a] = deg.get(r.id_a, 0) + 1
        deg[r.id_b] = deg.get(r.id_b, 0) + 1
    for vid, r in out.items():
        assert r.kept == (vid not in dropped_expect)
        assert r.n_dups == deg.get(vid, 0)


def test_semantic_dedup_clique_keeps_one(spark):
    """A mutually-similar clique of 4 clones keeps exactly its lowest id
    without connected components: every member other than the minimum
    has a lower-id neighbor above threshold."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=32)
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in base + rng.normal(scale=1e-3, size=32)])
        for i in (3, 7, 9, 12)
    ] + [
        Row(vec_id=i, embedding=[float(x) for x in rng.normal(size=32)])
        for i in (20, 21)
    ]
    out = {r.vec_id: r.kept for r in S.semantic_dedup(
        spark.createDataFrame(rows), threshold=0.99
    ).collect()}
    assert out == {3: True, 7: False, 9: False, 12: False, 20: True, 21: True}


def test_semantic_dedup_greedy_chain_keeps_endpoint(spark):
    """keep='greedy' vs the default pairwise rule on a similarity CHAIN
    (1~2, 2~3, no 1~3): greedy keeps 1 AND 3 (3's only neighbor 2 is
    itself dropped, so 3 is its own representative — the SemDeDup
    sequential-greedy semantics); pairwise drops both 2 and 3 (each has
    SOME lower-id neighbor). Pairs are injected directly so the chain
    shape is exact, not at the mercy of LSH banding."""
    ids = spark.createDataFrame(
        [Row(vec_id=i) for i in (1, 2, 3)], "vec_id long"
    ).withColumn("embedding", F_lit_vec())
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2, cos_sim=0.99), Row(id_a=2, id_b=3, cos_sim=0.99)],
        "id_a long, id_b long, cos_sim double",
    )
    greedy = {r.vec_id: r.kept for r in S.semantic_dedup(
        ids, pairs=pairs, keep="greedy"
    ).collect()}
    pairwise = {r.vec_id: r.kept for r in S.semantic_dedup(
        ids, pairs=pairs
    ).collect()}
    assert greedy == {1: True, 2: False, 3: True}
    assert pairwise == {1: True, 2: False, 3: False}


def F_lit_vec():
    from pyspark.sql import functions as F
    return F.array(F.lit(1.0))


def _sequential_greedy(n_ids, edges):
    """Local reference: process ids ascending; drop iff a KEPT lower
    neighbor exists."""
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(b, set()).add(a)
    kept = set()
    for i in sorted(n_ids):
        if not (nbrs.get(i, set()) & kept):
            kept.add(i)
    return kept


def test_semantic_dedup_greedy_fuzz_matches_sequential(spark):
    """Fuzz: on random pair graphs the distributed greedy fixpoint equals
    the local sequential-greedy-by-id reference exactly; the pairwise
    rule equals 'has any lower neighbor'; both keep all untouched ids."""
    rng = np.random.default_rng(77)
    for trial in range(6):
        n = int(rng.integers(6, 30))
        ids = list(range(n))
        m = int(rng.integers(0, n * 2))
        edges = set()
        for _ in range(m):
            a, b = rng.integers(0, n, size=2)
            if a != b:
                edges.add((int(min(a, b)), int(max(a, b))))
        edges = sorted(edges)
        id_df = spark.createDataFrame(
            [Row(vec_id=i) for i in ids], "vec_id long"
        ).withColumn("embedding", F_lit_vec())
        pair_df = spark.createDataFrame(
            [Row(id_a=a, id_b=b, cos_sim=0.99) for a, b in edges] or
            [Row(id_a=0, id_b=0, cos_sim=0.0)],
            "id_a long, id_b long, cos_sim double",
        )
        if not edges:
            pair_df = pair_df.where("id_a <> id_b")
        got = {r.vec_id: r.kept for r in S.semantic_dedup(
            id_df, pairs=pair_df, keep="greedy"
        ).collect()}
        want = _sequential_greedy(ids, edges)
        assert got == {i: (i in want) for i in ids}, (trial, edges)
        got_pw = {r.vec_id: r.kept for r in S.semantic_dedup(
            id_df, pairs=pair_df
        ).collect()}
        has_lower = {b for _, b in edges}
        assert got_pw == {i: (i not in has_lower) for i in ids}, (trial, edges)


def test_semantic_dedup_rejects_unknown_keep(spark):
    df = spark.createDataFrame([Row(vec_id=1)], "vec_id long")
    with pytest.raises(ValueError, match="keep"):
        S.semantic_dedup(df, keep="nope")


def test_semantic_dedup_degenerate_vectors_kept(spark):
    """Totality contract: NULL embeddings, NULL-component, zero-norm and
    NaN-component vectors can never be scored, so semantic dedup must
    KEEP them (n_dups = 0) — never silently delete what it cannot
    compare — while the clean planted clone still dedups."""
    rng = np.random.default_rng(5)
    base = [float(x) for x in rng.normal(size=8)]
    rows = [
        Row(vec_id=0, embedding=base),
        Row(vec_id=1, embedding=base),                      # exact clone -> dropped
        Row(vec_id=2, embedding=None),                      # NULL embedding
        Row(vec_id=3, embedding=base[:7] + [None]),         # NULL component
        Row(vec_id=4, embedding=[0.0] * 8),                 # zero norm
        Row(vec_id=5, embedding=base[:7] + [float("nan")]), # NaN component
    ]
    schema = "vec_id long, embedding array<double>"
    out = {r.vec_id: r for r in S.semantic_dedup(
        spark.createDataFrame(rows, schema), threshold=0.9, n_planes=4, n_bands=2
    ).collect()}
    assert len(out) == 6
    assert out[0].kept and out[0].n_dups == 1
    assert not out[1].kept and out[1].n_dups == 1
    for vid in (2, 3, 4, 5):
        assert out[vid].kept and out[vid].n_dups == 0, vid


def test_cosine_scores_arrow_bit_parity_with_jvm_fold(spark):
    """The r8 Arrow cosine kernel must be BIT-identical to the JVM
    `cosine` fold (sequential per-component IEEE accumulation — the
    contract that let every exact-scoring surface swap the interpreted
    HOF for numpy), including every degenerate pin: zero-norm → NULL,
    NaN component → NULL, NULL component → NULL, ragged dims → NULL."""
    import math
    import random

    from pyspark.sql import functions as F

    from jsl_engine.similarity import cosine, cosine_scores_arrow

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)],
         [rng.uniform(-1, 1) for _ in range(16)])
        for i in range(300)
    ]
    rows += [
        (1000, [0.0] * 16, [1.0] * 16),            # zero-norm → NULL
        (1001, [float("nan")] + [1.0] * 15, [1.0] * 16),  # NaN → NULL
        (1002, [None] + [1.0] * 15, [1.0] * 16),   # NULL component → NULL
        (1003, [1.0] * 8, [1.0] * 16),             # ragged dims → NULL
        (1004, [float("inf")] + [1.0] * 15, [1.0] * 16),  # inf → NaN → NULL
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    jvm = {r["id"]: r["c"]
           for r in df.select("id", cosine(F.col("a"), F.col("b")).alias("c")).collect()}
    arrow = {r["id"]: r["cos_raw"]
             for r in cosine_scores_arrow(df, "a", "b", ("id",)).collect()}
    assert set(jvm) == set(arrow)
    for k, v in jvm.items():
        if v is None:
            assert arrow[k] is None, (k, arrow[k])
        else:
            assert arrow[k] == v and not math.isnan(arrow[k]), (k, v, arrow[k])
    for k in (1000, 1001, 1002, 1003, 1004):
        assert arrow[k] is None
