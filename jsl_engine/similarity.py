"""Similarity search over embedding columns (``array<float>``).

Engine additions for training-data pipelines: exact brute-force cosine
top-k as the correctness baseline, IVF top-k as the scale path, and
banded random-hyperplane (SRP) embedding near-duplicate detection.

Spark-first design:

* dot products / norms are ``F.aggregate``/``F.zip_with`` array expressions
  — JVM-evaluated, no Python in the row loop;
* brute-force top-k broadcasts the (small) query set, scores each
  Arrow batch in one fold kernel, and ranks per query with
  :func:`jsl_engine.partitioning.topk_per_group`, whose lossless
  batch-local cut keeps ≤ k rows per (query, Arrow batch) before the
  ranking window, so the shuffle never carries the corpus;
* IVF assigns every vector to its k-means coarse cell (one numpy matmul
  per Arrow batch): candidate generation is an equi-join on the cell,
  exact cosine re-ranks within the probed cells;
* embedding near-dup buckets vectors by the sign pattern of ``n_planes``
  random projections per band (seeded, deterministic): candidates are an
  equi-join on (band, bucket), verified by exact cosine. Recall/cost
  trades with ``n_planes`` (more planes → smaller buckets).
"""

from __future__ import annotations

import math
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jsl_engine.partitioning import fan_out, hash_spread, topk_per_group
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType


def _dot(a, b):
    # widen to double BEFORE multiplying: (float32*float32).cast(double)
    # rounds the product to float32 first, which diverges from every
    # double-precision re-derivation (numpy, DuckDB ::DOUBLE[]) by ~1e-8 —
    # enough to flip ~0.6% of round-6 oracle comparisons on real data
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a, b):
    """Cosine similarity between two array columns (double, JVM-side).

    ``try_divide``, not ``/``: a zero-norm vector makes the divisor
    exactly 0, and under ANSI mode (on by default in Spark 4) a bare
    division then throws DIVIDE_BY_ZERO — one degenerate vector in a
    10^12-row corpus would kill the whole job. NULL is also the
    DuckDB-parity result (DuckDB double division by zero yields NULL),
    and NULL cos_sim sorts LAST in the descending rank windows in both
    engines, so a zero vector is simply never a neighbor.

    ``nanvl`` then maps a NaN result (a NaN/Inf COMPONENT — corrupt
    data) to NULL as well: both Spark and DuckDB rank NaN FIRST in a
    descending window, so one corrupt vector would otherwise land at
    rank 1 of EVERY query's top-k — the worst possible failure shape at
    corpus scale. NULL instead means corrupt vectors are never
    neighbors, matching the zero-vector pin; the DuckDB oracles apply
    the same isnan CASE."""
    raw = F.try_divide(_dot(a, b), _norm(a) * _norm(b))
    return F.nanvl(raw, F.lit(None).cast("double"))


def _fold_cosine_batch(a: "pa.Array", b: "pa.Array") -> list:
    """Per-row cosine of two Arrow list columns with the JVM fold's
    EXACT float semantics (see :func:`cosine_scores_arrow`). Returns a
    Python list of float-or-None."""
    import math

    import numpy as np

    n = len(a)
    if (
        a.null_count == 0 and b.null_count == 0
        and a.values.null_count == 0 and b.values.null_count == 0
    ):
        la = np.diff(a.offsets.to_numpy(zero_copy_only=False))
        lb = np.diff(b.offsets.to_numpy(zero_copy_only=False))
        if n and la.min() == la.max() == lb.min() == lb.max():
            d = int(la[0])
            x = (
                a.flatten().to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False).reshape(n, d)
            )
            y = (
                b.flatten().to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False).reshape(n, d)
            )
            # sequential per-component accumulation == the JVM fold's
            # IEEE-double order (parity pinned in tests), vectorized
            # across rows
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for i in range(d):
                xi, yi = x[:, i], y[:, i]
                dot = dot + xi * yi
                na = na + xi * xi
                nb = nb + yi * yi
            div = np.sqrt(na) * np.sqrt(nb)
            with np.errstate(divide="ignore", invalid="ignore"):
                res = dot / div
            bad = (div == 0.0) | np.isnan(res)
            return [None if bad[i] else float(res[i]) for i in range(n)]
    # degenerate rows (NULL vector / NULL component / ragged dims):
    # per-row Python doubles — identical IEEE arithmetic, rare path
    out: list = []
    for va, vb in zip(a.to_pylist(), b.to_pylist()):
        if (
            va is None or vb is None or len(va) != len(vb)
            or any(v is None for v in va) or any(v is None for v in vb)
        ):
            out.append(None)  # zip_with/fold over NULL → NULL dot → NULL
            continue
        dot = na = nb = 0.0
        for xa, xb in zip(va, vb):
            dot += xa * xb
            na += xa * xa
            nb += xb * xb
        div = math.sqrt(na) * math.sqrt(nb)
        if div == 0.0:
            out.append(None)  # try_divide by exact zero → NULL
            continue
        r = dot / div
        out.append(None if math.isnan(r) else r)  # nanvl → NULL
    return out


def cosine_scores_arrow(
    df: DataFrame,
    a_col: str,
    b_col: str,
    keep_cols: "tuple[str, ...]",
    out_col: str = "cos_raw",
) -> DataFrame:
    """Raw (unrounded) cosine of two vector columns in ONE Arrow pass —
    bit-identical to :func:`cosine` and ~10× cheaper (guide §4.2): the
    JVM ``aggregate``/``zip_with`` fold is interpreted per element
    (higher-order functions never enter whole-stage codegen), so scoring
    64-dim pairs costs ~200 interpreted lambda calls per row; here each
    Arrow batch runs one numpy accumulation loop over the components
    (measured r8 at sf1.0: ``topk_cosine_embeddings`` 6.2 s → ~1 s).

    Float parity is exact, not approximate: the kernel accumulates
    per-component in the SAME left-to-right IEEE-double order as the JVM
    fold (``np.dot``'s pairwise summation would NOT be bit-identical and
    is deliberately not used), and the degenerate pins of
    :func:`cosine` are reproduced — zero-norm divisor → NULL
    (``try_divide``), NaN result → NULL (``nanvl``), NULL vector / NULL
    component / ragged dims → NULL (NULL-propagating fold). Parity is
    asserted value-for-value in tests/test_similarity.py.

    Output: ``keep_cols + (out_col,)``. Rounding stays in-plan (callers
    apply ``F.round``), so JVM rounding semantics are untouched."""
    pruned = df.select(*keep_cols, a_col, b_col)
    na = len(keep_cols)
    out_schema = StructType(
        [pruned.schema[c] for c in keep_cols]
        + [StructField(out_col, DoubleType(), True)]
    )
    names = list(keep_cols) + [out_col]

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cos = _fold_cosine_batch(batch.column(na), batch.column(na + 1))
            arrays = [batch.column(i) for i in range(na)]
            arrays.append(pa.array(cos, pa.float64()))
            yield pa.RecordBatch.from_arrays(arrays, names)

    return pruned.mapInArrow(run, out_schema)


def _ranked_topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Shared tail of the exact top-k arms: the per-query top ``k`` by
    (``cos_sim`` desc, ``id_col`` asc) through
    :func:`jsl_engine.partitioning.topk_per_group`.

    NULL scores never rank: a NULL ``cos_sim`` means a degenerate
    (zero-norm / NaN-component) vector, and padding the tail of a
    top-k with no-similarity rows when the candidate pool is smaller
    than ``k`` would be noise, not neighbors — a query may therefore
    return FEWER than ``k`` rows. Mirrored by ``WHERE cos_sim IS NOT
    NULL`` in the DuckDB oracle."""
    scored = scored.where(F.col("cos_sim").isNotNull())
    return topk_per_group(
        scored, ["query_id"], [("cos_sim", "desc"), (id_col, "asc")], k
    )


def _indexable(df: DataFrame, vec_col: str) -> DataFrame:
    """NULL embeddings are not vectors. Every ANN surface — training
    sample, index build, scan corpus, query set — drops them up front:
    a single NULL row otherwise CRASHES the numpy stacking in the
    driver/Arrow kernels (ragged object array) or leaks
    never-comparable NULL scores into the ranking windows, with
    engine-dependent placement. Zero vectors and NaN/NULL components
    are kept HERE (well-formed arrays; the exact-scan paths handle
    them downstream: :func:`cosine` maps their scores to NULL and
    :func:`_ranked_topk` never ranks NULL — so they are never
    neighbors), while trained-model and quantized-index surfaces
    additionally exclude them via :func:`_finite`. Mirrored by the
    oracle SQL (`WHERE <vec> IS NOT NULL`) and pinned in
    tests/test_similarity.py."""
    return df.where(F.col(vec_col).isNotNull())


def _finite(df: DataFrame, vec_col: str) -> DataFrame:
    """:func:`_indexable` plus: every component finite. Required wherever
    a vector feeds a TRAINED MODEL or a quantized index: one NaN row in
    a Lloyd training sample propagates into a NaN centroid and argmax
    then assigns EVERY vector to it (verified numerically — the whole
    IVF index collapses into one cell; a NaN row in a PQ codebook makes
    every corpus vector encode to identical codes). A NaN vector's ADC
    scores against a clean codebook would also be arbitrary-but-finite,
    faking similarity the exact arms correctly refuse (their cosine is
    NULL) — so the quantized encode path excludes them too, and the
    DuckDB pq oracle mirrors the filter. The exact-scan paths keep NaN
    vectors: their scores are NULL by the cosine pin and never rank.

    The NULL-COMPONENT predicate is explicit (``x IS NULL`` in the
    lambda): without it the exclusion would ride on Spark's
    three-valued exists() (a NULL predicate result makes exists NULL,
    which WHERE drops) — correct by accident, and NOT what DuckDB's
    ``list_filter`` does (it silently SKIPS NULL lambda results, so an
    implicit oracle filter would keep the row the engine drops)."""
    return _indexable(df, vec_col).where(
        ~F.exists(
            F.col(vec_col),
            lambda x: x.isNull()
            | F.isnan(x)
            | (F.abs(x) == F.lit(float("inf"))),
        )
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k for every query vector::

        query_id, vec_id, cos_sim, rank   (rank 1..k, ties by vec_id)

    The query set is broadcast (small side); the corpus is scanned once
    and scored by the Arrow fold kernel (:func:`cosine_scores_arrow` —
    bit-identical to the JVM :func:`cosine`, ~10× cheaper than its
    interpreted HOF fold; r8). The ranking goes through
    :func:`jsl_engine.partitioning.topk_per_group`, whose map-side cut
    makes the per-query window's shuffle input O(batches × queries × k),
    never O(rows) — the corpus is never shuffled into per-query reducers.
    """
    q = F.broadcast(
        _indexable(queries, vec_col).select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
    )
    pairs = _indexable(vectors, vec_col).select(
        F.col(id_col), F.col(vec_col)
    ).crossJoin(q)
    scored = cosine_scores_arrow(
        pairs, vec_col, "q_vec", ("query_id", id_col)
    ).select(
        "query_id", id_col, F.round(F.col("cos_raw"), 6).alias("cos_sim")
    )
    return _ranked_topk(scored, k, id_col)


def _random_planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (Box–Muller over a counter
    hash — no RNG state, reproducible at any parallelism)."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(0, dim, 2):
            h = hashlib.blake2b(f"{seed}:{p}:{d}".encode(), digest_size=16).digest()
            u1 = (int.from_bytes(h[:8], "big") + 1) / (2**64 + 1)
            u2 = int.from_bytes(h[8:], "big") / 2**64
            r = math.sqrt(-2.0 * math.log(u1))
            row.append(r * math.cos(2 * math.pi * u2))
            if d + 1 < dim:
                row.append(r * math.sin(2 * math.pi * u2))
        planes.append(row[:dim])
    return planes


def train_ivf_centroids(
    vectors: DataFrame,
    *,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str | None = None,
    sample_rows: int = 10_000,
    iterations: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Driver-side Lloyd k-means over a bounded sample → IVF coarse
    centroids.

    Training cost is O(sample × cells × dim) on the driver — constant in
    table size; at 10^12 vectors you train on a sample exactly like this
    and only the assignment pass is distributed. Deterministic when
    ``id_col`` is given: the sample is the ``sample_rows`` smallest ids
    (compiles to TakeOrderedAndProject — per-partition top-k + driver
    merge, no global sort), plus counter-hash initialization. Without
    ``id_col`` the sample follows partition layout (legacy behavior).
    """
    import hashlib

    import numpy as np

    vectors = _finite(vectors, vec_col)
    if id_col is not None:
        sample = vectors.select(id_col, vec_col).orderBy(id_col).limit(sample_rows)
        rows = sample.select(vec_col).collect()
    else:
        rows = vectors.select(vec_col).limit(sample_rows).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    # deterministic init: pick rows by counter hash
    idx = sorted(
        range(len(x)),
        key=lambda i: hashlib.blake2b(f"{seed}:{i}".encode(), digest_size=8).digest(),
    )[:n_cells]
    c = x[idx].copy()
    for _ in range(iterations):
        assign = np.argmax(x @ c.T, axis=1)  # cosine on normalized vectors
        for j in range(n_cells):
            members = x[assign == j]
            if len(members):
                m = members.mean(axis=0)
                c[j] = m / max(np.linalg.norm(m), 1e-12)
    return [[float(v) for v in row] for row in c]


def train_ivf_centroids_distributed(
    vectors: DataFrame,
    *,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 10,
    seed: int = 42,
    init_sample_rows: int = 10_000,
    train_permille: int = 1000,
) -> list[list[float]]:
    """Distributed Lloyd k-means → IVF coarse centroids — the 10^12-vector
    trainer: each iteration is ONE Spark pass (the Arrow matmul
    assignment kernel :func:`assign_cells_arrow` over normalized vectors,
    then a map-side-combining ``groupBy(cell)`` of per-dimension sums —
    the shuffle carries ≤ tasks × n_cells × dim partial floats, never
    rows) and a ≤ n_cells-row driver reduce. Training therefore sees the
    whole corpus (or a deterministic ``train_permille`` id-hash sample of
    it), fixing the cell-balance degradation of a fixed driver-side
    sample at large scale; :func:`train_ivf_centroids` remains the
    bounded-sample fallback.

    Deterministic contract preserved: initialization = counter-hash pick
    from the ``init_sample_rows`` smallest ids (identical to the driver
    trainer), fixed iteration count, and per-cell means that are
    permutation-stable up to float summation order (assert closeness, not
    bit equality, against the driver trainer). Empty cells keep their
    previous centroid. Vectors are L2-normalized in-plan once; centroids
    are re-normalized means, so assignment argmax is cosine."""
    import hashlib

    import numpy as np

    vectors = _finite(vectors, vec_col)
    dim_probe = vectors.select(vec_col).first()
    dim = len(dim_probe[0])
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    base = vectors.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: x / F.greatest(norm, F.lit(1e-12)),
        ).alias(vec_col),
    )
    if train_permille < 1000:
        from jsl_engine.sampling import SALT_TRAIN_SAMPLE, order_hash

        base = base.where(
            F.pmod(order_hash(id_col, SALT_TRAIN_SAMPLE), F.lit(1000))
            < F.lit(int(train_permille))
        )
    base = base.cache()
    base.count()  # eager: every iteration re-reads the normalized sample

    init_rows = (
        base.orderBy(id_col).limit(init_sample_rows).select(vec_col).collect()
    )
    x0 = np.array([r[0] for r in init_rows], dtype=np.float64)
    idx = sorted(
        range(len(x0)),
        key=lambda i: hashlib.blake2b(f"{seed}:{i}".encode(), digest_size=8).digest(),
    )[:n_cells]
    c = x0[idx].copy()

    sum_cols = [
        F.sum(F.element_at(F.col(vec_col), i + 1)).alias(f"s{i}")
        for i in range(dim)
    ]
    try:
        for _ in range(iterations):
            # balance=False: `base` is cached — its partitioning is fixed
            # once above; a per-iteration fan_out would re-shuffle the
            # cached sample every pass for pure scheduling overhead
            assigned = assign_cells_arrow(
                base, [[float(v) for v in row] for row in c],
                vec_col=vec_col, balance=False,
            )
            stats = (
                assigned.groupBy("cell")
                .agg(F.count(F.lit(1)).alias("n"), *sum_cols)
                .collect()
            )
            new_c = c.copy()
            for r in stats:
                j = int(r["cell"])
                n = int(r["n"])
                if n:
                    m = np.array([r[f"s{i}"] for i in range(dim)]) / n
                    new_c[j] = m / max(np.linalg.norm(m), 1e-12)
            c = new_c
    finally:
        base.unpersist()
    return [[float(v) for v in row] for row in c]


def assign_cells_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    n_probe: int = 1,
    cell_col: str = "cell",
    balance: bool = False,
) -> DataFrame:
    """Assign every row to its ``n_probe`` best coarse cells by centroid
    dot product — the 10^12-vector path: the centroid matrix is broadcast
    once, each Arrow batch is one numpy matmul + argpartition (vectorized,
    no per-row Python), non-vector columns pass through untouched, and
    rows are emitted ``n_probe``-fold with an int cell column appended.
    """
    import numpy as np

    if balance:
        df = fan_out(df)
    spark = df.sparkSession
    c = np.asarray(centroids, dtype=np.float64).T  # (dim, k)
    bc = spark.sparkContext.broadcast(c)
    in_schema = df.schema
    vec_idx = in_schema.fieldNames().index(vec_col)
    out_schema = StructType(in_schema.fields + [StructField(cell_col, IntegerType(), False)])

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        cents = bc.value
        k = cents.shape[1]
        probes = min(n_probe, k)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            col = batch.column(vec_idx)
            flat = col.flatten() if hasattr(col, "flatten") else col.values
            x = np.asarray(flat.to_numpy(zero_copy_only=False), dtype=np.float64)
            x = x.reshape(n, -1)
            scores = x @ cents  # (n, k)
            if probes == 1:
                cells = np.argmax(scores, axis=1).astype(np.int32)
                arrays = [batch.column(i) for i in range(batch.num_columns)]
                arrays.append(pa.array(cells, pa.int32()))
                yield pa.RecordBatch.from_arrays(
                    arrays, in_schema.fieldNames() + [cell_col]
                )
            else:
                top = np.argpartition(-scores, probes - 1, axis=1)[:, :probes]
                idx = np.repeat(np.arange(n), probes)
                tbl = pa.table(
                    {f.name: batch.column(i) for i, f in enumerate(batch.schema)}
                ).take(pa.array(idx))
                arrays = [tbl.column(i).combine_chunks() for i in range(tbl.num_columns)]
                arrays.append(pa.array(top.reshape(-1).astype(np.int32), pa.int32()))
                yield pa.RecordBatch.from_arrays(
                    arrays, in_schema.fieldNames() + [cell_col]
                )

    return df.mapInArrow(run, out_schema)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: assign every vector to its best coarse cell
    (the corpus is scanned once), probe each query's best ``n_probe``
    cells, exact-rank inside.

    Assignment is one broadcast numpy matmul per Arrow batch
    (:func:`assign_cells_arrow`), the same scale path a FAISS-style
    10^12-vector deployment uses: a literal-array JVM form of the
    centroid dot products never reaches whole-stage codegen (its
    higher-order folds are interpreted per element; measured at sf1.0
    the full-probe IVF arm took 4.4 s that way vs 1.3 s with the
    matmul). The cells then feed a bucket-equi-join → exact re-rank.

    Same output shape as :func:`brute_force_topk`. Recall follows
    ``n_probe``/``n_cells`` as in an IVF-Flat index.
    """
    vectors = _indexable(vectors, vec_col)
    queries = _indexable(queries, vec_col)
    if centroids is None:
        centroids = train_ivf_centroids(
            vectors, n_cells=n_cells, vec_col=vec_col, id_col=id_col,
            seed=seed,
        )
    v = assign_cells_arrow(
        vectors.select(F.col(id_col), F.col(vec_col)), centroids,
        vec_col=vec_col, n_probe=1,
    )
    q = F.broadcast(
        assign_cells_arrow(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(vec_col).alias("q_vec"),
            ),
            centroids, vec_col="q_vec", n_probe=n_probe,
        )
    )
    pairs = v.join(q, "cell")
    scored = cosine_scores_arrow(
        pairs, vec_col, "q_vec", ("query_id", id_col)
    ).select(
        "query_id", id_col, F.round(F.col("cos_raw"), 6).alias("cos_sim")
    )
    return _ranked_topk(scored, k, id_col)


def embedding_near_duplicates(
    vectors: DataFrame,
    *,
    threshold: float = 0.98,
    n_planes: int = 12,
    n_bands: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 1024,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: BANDED SRP buckets → pair within
    any band's bucket → exact cosine ≥ threshold. Returns
    ``id_a, id_b, cos_sim``.

    **Banding is what makes the recall honest.** One ``n_planes``-bit
    bucket co-locates a pair with probability ``p^n_planes`` where
    ``p = 1 − θ/π`` — at cosine 0.98 (p ≈ 0.936) a single 12-bit bucket
    catches only ~45% of qualifying pairs. With ``n_bands`` independent
    plane sets a pair is a candidate if it collides in ANY band:
    ``1 − (1 − p^n_planes)^n_bands`` ≈ 99.2% at the 8 × 12 defaults,
    while random pairs (p ≈ 0.5) collide somewhere with probability
    ≈ ``n_bands · 2^-n_planes`` ≈ 0.2% — the same recall/candidate
    trade the MinHash text pipeline makes.

    Scale-critical ordering (same pattern as
    :func:`jsl_engine.text_ops.lsh_candidate_pairs`): real embedding
    corpora are *clustered*, so a dense cluster collapsing into one
    (band, bucket) of 10^6 vectors would materialize ~5·10^11 pairs.
    Buckets larger than ``max_bucket`` are pruned with a windowed count
    **before** the self-join (the window partitions on the same keys the
    join shuffles on, so its exchange is reused); a pair dropped from an
    oversized bucket can still surface through its other bands. The
    banded rows carry only ``(id, band, bucket)`` — vectors are fetched
    back by id for the exact-cosine verify AFTER the candidate pairs are
    deduplicated across bands, so the wide embedding column never rides
    the candidate join. The band exchange has an explicit
    ``spark.sql.shuffle.partitions`` count
    (:func:`jsl_engine.partitioning.hash_spread`): AQE merged the
    sandbox-sized band exchange into one task, which ran the window and
    the self-join on one core.

    Pass ``dim`` (the embedding width) to keep plan construction
    action-free; if omitted it is probed with a one-row job."""
    vectors = _indexable(vectors, vec_col)
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    planes = _random_planes(dim, n_planes * n_bands, seed)
    # all n_bands × n_planes projections in ONE numpy matmul per Arrow
    # batch: the JVM expression form runs each 64-dim dot as an
    # interpreted HOF fold — 96 folds/row cost ~7s at sf0.1 vs <1s here
    # (same sign results; a flip needs |dot| at float ulp scale)
    import numpy as _np
    import pyarrow as _pa
    from pyspark.sql.types import ArrayType as _AT, LongType as _LT
    from pyspark.sql.types import StructField as _SF, StructType as _ST

    spark = vectors.sparkSession
    pm = _np.array(planes, dtype=_np.float64)  # (bands*planes, dim)
    weights = _np.tile(2 ** _np.arange(n_planes, dtype=_np.int64), n_bands)
    bc = spark.sparkContext.broadcast((pm, weights, n_bands, n_planes))
    pruned_v = vectors.select(id_col, vec_col)
    bk_schema = _ST([
        pruned_v.schema[id_col],
        _SF("buckets", _AT(_LT(), False), False),
    ])

    def _bucketize(batches):
        from jsl_engine.pq import _batch_matrix

        p, wts, nb, npl = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            # zero-copy flatten, NOT to_pylist: materializing 20k × 64
            # python floats cost ~2 s of this kernel's 2.1 s at sf1.0
            # (r8; the pq._batch_matrix lesson) — float widening is
            # exact either way, so the sign bits are unchanged
            x = _batch_matrix(batch.column(1), batch.num_rows, _np.float64)
            bits = (x @ p.T >= 0).astype(_np.int64) * wts
            bkt = bits.reshape(len(x), nb, npl).sum(axis=2)
            yield _pa.RecordBatch.from_arrays(
                [batch.column(0), _pa.array(list(bkt), type=_pa.list_(_pa.int64()))],
                names=[batch.schema.field(0).name, "buckets"],
            )

    v = pruned_v.mapInArrow(_bucketize, bk_schema).select(
        F.col(id_col),
        F.posexplode(F.col("buckets")).alias("band", "bucket"),
    )
    w = Window.partitionBy("band", "bucket")
    v = (
        hash_spread(v, "band", "bucket")
        .withColumn("__bucket_n", F.count(F.lit(1)).over(w))
        .where(F.col("__bucket_n") <= max_bucket)
        .drop("__bucket_n")
    )
    a, b = v.alias("a"), v.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    va = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    joined = cands.join(va, "id_a").join(vb, "id_b")
    # exact-cosine verify through the Arrow fold kernel (bit-identical
    # to the JVM `cosine`; the interpreted HOF fold cost ~3.5 s on the
    # ~300k sf1.0 candidate pairs, the kernel ~0.3 s — r8)
    return (
        cosine_scores_arrow(joined, "__va", "__vb", ("id_a", "id_b"))
        .select(
            "id_a", "id_b", F.round(F.col("cos_raw"), 6).alias("cos_sim")
        )
        .where(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    vectors: DataFrame,
    *,
    threshold: float = 0.98,
    n_planes: int = 12,
    n_bands: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 1024,
    dim: int | None = None,
    pairs: DataFrame | None = None,
    keep: str = "pairwise",
    greedy_max_iters: int = 64,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540) over verified near-duplicate pairs (exact cosine
    ≥ ``threshold``). Two deterministic keep rules:

    * ``keep="pairwise"`` (default): a vector is DROPPED when it has
      ANY lower-id verified neighbor. Exact semantics: within each
      connected component of the near-dup graph, only LOCAL id-minima
      survive (nodes with no lower-id neighbor). For a clique that is
      exactly one representative; for a similarity CHAIN (A~B, B~C, no
      A~C) it drops both B and C even though C has no kept neighbor
      within threshold — a deliberate over-deletion bias (duplicates at
      ``threshold`` ≥ 0.9 overwhelmingly form tight cliques, and one
      aggregation + one join is the cheapest scale shape). SQL-replayed
      in the oracle.
    * ``keep="greedy"``: sequential greedy by ascending id (the
      SemDeDup-faithful rule) — a vector is dropped only when it has a
      lower-id KEPT neighbor, so in the chain above C survives as its
      own representative. Computed distributed as a monotone fixpoint
      over the pair list (each round decides every node whose lower
      neighbors are all decided; rounds = decision-dependency depth,
      bounded by ``greedy_max_iters`` — past the bound the remaining
      undecided nodes fall back to the pairwise rule, deterministically
      and conservatively). Pytest-pinned against a local sequential
      reference; not SQL-expressible (recursive), so pytest-only.

    Returns one row per INPUT vector::

        <id_col>, kept (boolean), n_dups (long)

    ``n_dups`` is the number of verified near-dup neighbors on either
    side (0 for unique vectors). Degenerate rows follow the engine's
    ANN totality contract (:func:`cosine`): NULL / NULL-component /
    zero-norm / NaN vectors never pair, so they are always kept with
    ``n_dups = 0`` — semantic dedup must not silently delete documents
    it cannot score.

    Scale shape: SemDeDup's k-means cluster pruning exists to avoid the
    all-pairs O(n²) sweep; this engine gets the identical effect from
    the banded-SRP candidate generator it already trusts
    (:func:`embedding_near_duplicates` — per-(band, bucket) oversized
    guard, candidates deduped across bands BEFORE the exact verify, the
    wide vector column never rides the candidate join). On top of the
    pair list this adds ONE aggregation over the exploded pair endpoints
    (degree + drop flag together) and one co-partitioned left join back
    to the input ids — no new
    corpus-wide window, no driver state. The paper's "keep the member
    farthest from the cluster centroid" tie-rule is replaced by the
    lowest-id rule so the output is a pure deterministic function of
    the corpus (engine- and partitioning-independent, hence
    oracle-checkable); at 100 TB that determinism is what makes
    incremental re-runs and audits possible.

    Pass ``pairs`` (a precomputed ``id_a, id_b, cos_sim`` frame from
    :func:`embedding_near_duplicates`, ideally materialized) when the
    caller ALSO consumes the pair list: Spark re-executes a plan subtree
    once per consuming branch, so sharing one checkpointed pair list
    halves the dominant candidate-generation cost instead of doubling
    it."""
    if keep not in ("pairwise", "greedy"):
        raise ValueError(f"keep must be 'pairwise' or 'greedy', got {keep!r}")
    if pairs is None:
        pairs = embedding_near_duplicates(
            vectors,
            threshold=threshold,
            n_planes=n_planes,
            n_bands=n_bands,
            seed=seed,
            id_col=id_col,
            vec_col=vec_col,
            max_bucket=max_bucket,
            dim=dim,
        )
    if keep == "greedy":
        # fixpoint over the (small, post-verify) pair list, never the
        # corpus: status 0=undecided, 1=kept, 2=dropped. Seed: nodes
        # with no lower-id neighbor are kept (pairs carry id_a < id_b,
        # so "no lower neighbor" = "never appears as id_b"). Each round
        # decides every node whose lower neighbors are all decided —
        # the minimum undecided node always qualifies, so the loop
        # strictly progresses; localCheckpoint truncates the growing
        # lineage (the connected_components pattern).
        edges = (
            pairs.select(F.col("id_a").alias("lo"), F.col("id_b").alias("hi"))
            .localCheckpoint()
        )
        status = (
            edges.select(F.col("lo").alias("nid"))
            .unionAll(edges.select(F.col("hi").alias("nid")))
            .distinct()
            .join(
                edges.select(F.col("hi").alias("nid"))
                .distinct()
                .withColumn("__hl", F.lit(True)),
                "nid",
                "left",
            )
            .select(
                "nid",
                F.when(F.col("__hl").isNull(), F.lit(1))
                .otherwise(F.lit(0))
                .alias("st"),
            )
            .localCheckpoint()
        )
        for _ in range(greedy_max_iters):
            if status.where(F.col("st") == 0).isEmpty():
                break
            verdicts = (
                edges.join(
                    status.select(
                        F.col("nid").alias("lo"), F.col("st").alias("lo_st")
                    ),
                    "lo",
                )
                .groupBy("hi")
                .agg(
                    F.max((F.col("lo_st") == 1).cast("int")).alias("__any_kept"),
                    F.min((F.col("lo_st") == 2).cast("int")).alias(
                        "__all_dropped"
                    ),
                )
                .withColumnRenamed("hi", "nid")
            )
            status = (
                status.join(verdicts, "nid", "left")
                .select(
                    "nid",
                    F.when(F.col("st") != 0, F.col("st"))
                    .when(F.col("__any_kept") == 1, F.lit(2))
                    .when(F.col("__all_dropped") == 1, F.lit(1))
                    .otherwise(F.lit(0))
                    .alias("st"),
                )
                .localCheckpoint()
            )
        # past-the-bound fallback: undecided → dropped (== the pairwise
        # rule for those nodes — every undecided node has a lower-id
        # neighbor by construction; deterministic, conservative)
        flags = (
            pairs.select(F.col("id_a").alias(id_col))
            .unionAll(pairs.select(F.col("id_b").alias(id_col)))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_dups"))
            .join(
                status.select(
                    F.col("nid").alias(id_col),
                    (F.col("st") != 1).alias("__dropped"),
                ),
                id_col,
            )
        )
        return (
            vectors.select(id_col)
            .join(flags, id_col, "left")
            .select(
                id_col,
                (~F.coalesce(F.col("__dropped"), F.lit(False))).alias("kept"),
                F.coalesce(F.col("n_dups"), F.lit(0))
                .cast("long")
                .alias("n_dups"),
            )
        )
    # ONE aggregation over the pair list carries both signals — neighbor
    # degree (each verified pair contributes to both endpoints) and the
    # drop flag (pairs are emitted with id_a < id_b, so "has a lower-id
    # neighbor" is exactly "appears on the id_b side") — so the
    # corpus-sized id frame is shuffled into ONE left join, not two
    flags = (
        pairs.select(F.col("id_a").alias(id_col), F.lit(False).alias("__b"))
        .unionAll(
            pairs.select(F.col("id_b").alias(id_col), F.lit(True).alias("__b"))
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.max("__b").alias("__dropped"),
        )
    )
    return (
        vectors.select(id_col)
        .join(flags, id_col, "left")
        .select(
            id_col,
            (~F.coalesce(F.col("__dropped"), F.lit(False))).alias("kept"),
            F.coalesce(F.col("n_dups"), F.lit(0)).cast("long").alias("n_dups"),
        )
    )
