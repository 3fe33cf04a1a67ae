"""Bounded-memory Bloom-filter decontamination.

:func:`jsl_engine.text_ops_arrow.contamination_arrow` broadcasts the
benchmark's distinct gram hashes as a sorted uint64 array — 8 bytes per
gram. That is the right shape for eval suites (10^5–10^6 grams, a few
MB), but production decontamination lists grow far past that: "every
published benchmark plus every known leaked eval plus a copyright
blocklist" reaches 10^8–10^9 distinct grams, where the sorted-array
broadcast is 0.8–8 GB per executor — past the comfortable broadcast
ceiling. A Bloom filter at ~28.8 bits/gram (fp_rate=1e-6) is 2.2×
smaller at identical decision quality *for this pipeline*, because the
filter's false positives are removed by an exact verify tail.

**The false-positive rate is per GRAM and compounds per document**: a
clean document with ``g`` distinct grams becomes a verify-tail
candidate with probability ≈ ``g·fp_rate`` (union bound) — at the old
1e-3 default a 1000-gram document was a candidate 63% of the time,
silently turning the "tiny" verify tail into most of the corpus. The
1e-6 default keeps false candidacy ≈ 0.1% for 1000-gram documents;
size ``fp_rate ≲ target_candidacy / typical_grams_per_doc``.

1. **Build** (two passes over the benchmark, which is small relative to
   the corpus): a sizing pass sums per-partition distinct-gram counts
   (cross-partition duplicates overcount, which only oversizes the
   filter and lowers the false-positive rate), then one ``mapInArrow``
   pass emits a bitmap row per partition; rows OR-combine on the driver
   (small filters) or executor-side in a depth-ary tree (big filters) —
   the driver never sees per-gram data.
2. **Probe** (the one full-corpus pass, map-only): each document's
   distinct gram hashes are tested against the broadcast bitmap with
   vectorized double hashing; ``bloom_hits`` counts grams with all ``k``
   bits set. Blooms have **no false negatives**, so ``bloom_hits >= 1``
   is a superset of the documents with any true benchmark hit.
3. **Exact verify tail** (candidates only): candidate texts ride the
   probe pass's own output (NULL for clean rows), so the tail reads the
   checkpointed probe frame — no join back onto the corpus, no
   candidate-id broadcast job. The candidates' string grams are joined
   against the benchmark's distinct string grams — the tail is where
   the benchmark-sized work lives, but it runs against a candidate set
   sized by true contamination + m·fp_rate, not by the corpus.

The result is therefore **exact** (bit-for-bit the output of
:func:`jsl_engine.text_ops.contamination`) while the full-corpus pass
stays map-only with a bitmap whose size is independent of the corpus and
sublinear in benchmark bytes. ``n_grams`` for non-candidates counts
distinct 64-bit gram hashes rather than distinct gram strings — equal
absent a ~1e-6 collision, the same argument (and the same shared DuckDB
oracle) as ``contamination_arrow``.

North-rule context: engine-level addition (the reference validates
single documents; reference scope src/lib.rs:114-118).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from jsl_engine.partitioning import fan_out
from jsl_engine.text_ops_arrow import (
    _distinct_per_doc,
    _shingle_hash_batch,
    _splitmix64,
)

#: Domain-separation constant for the second hash of the double-hashing
#: probe sequence (distinct from every seed used by the minhash family).
_BLOOM_SALT = np.uint64(0xB10F_11E5_0000_0001)

#: Hard floor so degenerate inputs (empty benchmark) still build a valid,
#: well-formed filter instead of a zero-length bitmap.
_MIN_BITS = 1024

#: Bitmaps at or below this collect one row per partition from an Arrow
#: pass and OR on the driver (driver ingress = partitions × bytes);
#: above it the executor-side treeAggregate path takes over. 16 MB ≈
#: a 4.6M-gram filter at the fp 1e-6 default.
_COLLECT_BITMAP_BYTES = 16 << 20


def bloom_params(n_items: int, fp_rate: float) -> tuple[int, int]:
    """Classic Bloom sizing: bits ``m = -n ln p / (ln 2)^2`` rounded up
    to a multiple of 64, hash count ``k = (m/n) ln 2`` clamped to
    [1, 16]."""
    if not 0.0 < fp_rate < 1.0:
        raise ValueError(f"fp_rate must be in (0, 1), got {fp_rate}")
    n = max(int(n_items), 1)
    m = int(math.ceil(-n * math.log(fp_rate) / (math.log(2.0) ** 2)))
    m = max(((m + 63) // 64) * 64, _MIN_BITS)
    k = max(1, min(16, int(round(m / n * math.log(2.0)))))
    return m, k


def _probe_matrix(hashes: np.ndarray, k: int, m: int) -> np.ndarray:
    """(len(hashes), k) uint64 bit positions via double hashing
    ``h1 + i*h2 mod m`` — h2 forced odd so the probe stride never
    collapses to zero."""
    h1 = hashes
    h2 = _splitmix64(hashes ^ _BLOOM_SALT) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


def _set_bits(bitmap: np.ndarray, pos: np.ndarray) -> None:
    """Set bit positions (flattened) in a uint64 bitmap, in place."""
    flat = pos.ravel()
    np.bitwise_or.at(bitmap, (flat >> np.uint64(6)).astype(np.int64),
                     np.uint64(1) << (flat & np.uint64(63)))


def _test_all_k(bitmap: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Boolean vector: rows of the (n, k) position matrix whose k bits
    are all set."""
    word = bitmap[(pos >> np.uint64(6)).astype(np.int64)]
    hit = (word >> (pos & np.uint64(63))) & np.uint64(1)
    return hit.all(axis=1)


def _shard_mask(g: np.ndarray, n_shards: int, shard: int) -> np.ndarray:
    """Keep only the gram hashes belonging to shard ``shard`` of
    ``n_shards``. The shards partition the 64-bit gram-hash space
    exactly (``hash mod n_shards``, uniform because the shingle hash is
    splitmix-mixed), so per-document gram and hit counts SUM across
    shards with no overlap and no gap."""
    if n_shards == 1:
        return g
    return g[_in_shard(g, n_shards, shard)]


def _in_shard(g: np.ndarray, n_shards: int, shard: int) -> np.ndarray:
    """Boolean mask of the gram hashes in shard ``shard`` of
    ``n_shards`` (the slice :func:`_shard_mask` keeps)."""
    return g % np.uint64(n_shards) == np.uint64(shard)


def build_gram_bloom(
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    n: int = 3,
    fp_rate: float = 1e-6,
    expected_grams: int | None = None,
    tree_depth: int = 2,
    balance: bool = True,
    n_shards: int = 1,
    shard: int = 0,
) -> tuple[np.ndarray, int, int]:
    """Distributed Bloom build over the benchmark's distinct word
    ``n``-gram hashes. Returns ``(bitmap uint64[m/64], m, k)``.

    When ``expected_grams`` is None a sizing pass sums per-partition
    distinct counts (an upper bound — duplicates spanning partitions are
    double-counted, which only lowers the realized false-positive rate).
    Callers that know their blocklist's scale should pass
    ``expected_grams`` and skip that pass: **exactness never depends on
    sizing** (the verify tail scrubs false positives whatever the
    realized rate); sizing only trades bitmap bytes against tail volume.

    ONE build shape for every bitmap size: a ``mapInArrow`` pass emits a
    single OR-combined bitmap row per partition (documents only ever
    touch the Arrow worker pool). What differs is the combine tier:
    small bitmaps (≤ ``_COLLECT_BITMAP_BYTES``) collect the partition
    rows and OR on the driver (ingress = partitions × bytes); big
    bitmaps tree-OR the same partition rows executor-side via
    ``RDD.treeAggregate(depth=tree_depth)`` — the RDD layer carries one
    bitmap row per partition, never per-document data, so driver ingress
    is ``depth``-ary combined bitmaps. Per-task memory is one bitmap
    (``m/8`` bytes).

    Filters past executor/broadcast memory (≳10^10 grams — a "every
    benchmark + every leaked eval + copyright blocklist" production
    list) shard the GRAM-HASH range across passes: ``n_shards > 1``
    builds the independent, fully-sized filter for the grams whose hash
    falls in slice ``shard`` (see :func:`_shard_mask`). Each pass's
    bitmap is ~``1/n_shards`` of the monolithic size; the sizing pass,
    when run, counts only slice grams."""
    if not 0 <= shard < n_shards:
        raise ValueError(f"shard must be in [0, {n_shards}), got {shard}")
    texts = benchmark.select(text_col)
    if balance:
        texts = fan_out(texts)
        if expected_grams is None:
            # the sizing pass and the build pass are two jobs over the
            # same plan — without this, the fan_out round-robin shuffle
            # (and the benchmark scan under it) would execute twice;
            # the lazy checkpoint materializes the conditioned input in
            # the first job and the build pass reads the blocks
            texts = texts.localCheckpoint(eager=False)

    if expected_grams is None:
        def count_part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            seen: list[np.ndarray] = []
            for batch in batches:
                vals, _ = _shingle_hash_batch(batch.column(0).to_pylist(), n)
                seen.append(_shard_mask(vals, n_shards, shard))
            c = int(np.unique(np.concatenate(seen)).size) if seen else 0
            yield pa.RecordBatch.from_arrays(
                [pa.array([c], type=pa.int64())], names=["c"]
            )

        schema = StructType([StructField("c", LongType(), False)])
        [row] = texts.mapInArrow(count_part, schema).agg(
            F.sum("c").alias("c")
        ).collect()
        expected_grams = int(row["c"] or 0)

    m, k = bloom_params(expected_grams, fp_rate)
    n_words = m // 64

    def build_part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        local = np.zeros(n_words, dtype=np.uint64)
        got = False
        for batch in batches:
            vals, counts = _shingle_hash_batch(batch.column(0).to_pylist(), n)
            # the bits are an OR: one probe per distinct gram of the batch
            g = np.unique(_shard_mask(vals, n_shards, shard))
            if g.size:
                _set_bits(local, _probe_matrix(g, k, m))
            got = got or bool(counts.any())
        if got:
            yield pa.RecordBatch.from_arrays(
                [pa.array([local.tobytes()], type=pa.binary())], names=["b"]
            )

    schema = StructType([StructField("b", BinaryType(), False)])
    parts = texts.mapInArrow(build_part, schema)

    if n_words * 8 <= _COLLECT_BITMAP_BYTES:
        bitmap = np.zeros(n_words, dtype=np.uint64)
        for r in parts.collect():
            bitmap |= np.frombuffer(r["b"], dtype=np.uint64)
        return bitmap, m, k

    # big bitmaps: SAME Arrow pass, but the per-partition bitmap rows
    # (rows = partitions, never documents) OR-combine executor-side in a
    # depth-ary tree — driver ingress is `depth`-ary combined bitmaps.
    # The RDD layer only ever carries one bitmap row per partition; no
    # document is pickled through a Python worker twice.
    def seq_op(acc: np.ndarray, row) -> np.ndarray:
        return np.bitwise_or(
            acc, np.frombuffer(row[0], dtype=np.uint64), out=acc
        )

    bitmap = parts.rdd.treeAggregate(
        np.zeros(n_words, dtype=np.uint64), seq_op, np.bitwise_or,
        depth=tree_depth,
    )
    return bitmap, m, k


def bloom_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 1,
    fp_rate: float = 1e-6,
    expected_grams: int | None = None,
    balance: bool = True,
    n_shards: int = 1,
) -> DataFrame:
    """Exact benchmark decontamination behind a Bloom prefilter — the
    bounded-memory tier above :func:`contamination_arrow` for benchmark
    sets too large to broadcast as sorted hash arrays. Output schema and
    values equal :func:`jsl_engine.text_ops.contamination`::

        doc_id, n_grams, n_hits, hit_rate, contaminated

    Plan shape: one map-only full-corpus pass (bitmap probe, emitting
    candidate texts alongside the counts), then an exact string-gram
    verify join restricted to the Bloom candidates (no-false-negative
    guarantee makes the restriction lossless). The kernel output is
    ``localCheckpoint``-ed so the candidate and clean branches don't
    re-run the probe pass (the plan-branch dedup pattern measured on the
    near-dup verify tails, BENCH/ANALYSIS.md round 4). Whole-operator
    action count: ONE build job + ONE output job when
    ``expected_grams`` is given (a third for the sizing pass otherwise)
    — gated in tests/test_bloom.py.

    ``n_shards > 1`` is the tier past a single executor's broadcast
    budget (a monolithic filter needs ``m/8`` bytes per executor;
    ~10^10 grams at fp 1e-6 ≈ 36 GB): the gram-hash space is split into
    ``n_shards`` slices, each slice gets its own fully-sized filter
    built and probed in a SEQUENTIAL pass (build → eager-checkpoint
    probe → unpersist the broadcast, so peak memory is ONE shard's
    bitmap), and the per-document ``(n_grams, bloom_hits)`` partials —
    exact sums, since the slices partition the gram space — combine in
    one narrow-row groupBy. The exact verify tail is unchanged, so the
    output is bit-for-bit the unsharded (and plain ``contamination``)
    result — property-pinned in tests/test_bloom.py. Costs vs
    unsharded: ``n_shards`` corpus probe passes plus one corpus-row
    shuffle of (id, two longs, candidate-text) rows.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    spark = df.sparkSession

    pruned = df.select(id_col, text_col)
    if balance:
        pruned = fan_out(pruned)
    if n_shards > 1:
        # every shard pass re-reads the conditioned corpus projection;
        # materialize it once instead of re-running the scan + fan-out
        # shuffle per shard
        pruned = pruned.localCheckpoint(eager=False)
    text_field = pruned.schema[text_col]
    out_schema = StructType(
        [
            pruned.schema[id_col],
            StructField("n_grams", LongType(), False),
            StructField("bloom_hits", LongType(), False),
            # candidate docs carry their text through (NULL for the
            # clean majority), so the exact verify tail reads the
            # checkpointed probe output directly — no join back onto the
            # corpus, no candidate-id broadcast job
            StructField(text_col, text_field.dataType, True),
        ]
    )

    def make_probe(bc, m: int, k: int, shard: int):
        def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            import pyarrow.compute as pc

            bits = bc.value
            for batch in batches:
                rows = batch.num_rows
                if rows == 0:
                    continue
                # NULL text: zero grams, zero hits, never a candidate
                # (`t or ""` would give it the EMPTY doc's shingle and a
                # spurious bloom candidacy whenever the benchmark holds a
                # whitespace-only doc) — pinned with
                # contamination()/contamination_arrow and the oracle
                g, lens, _ = _distinct_per_doc(
                    *_shingle_hash_batch(batch.column(1).to_pylist(), n)
                )
                doc = np.repeat(np.arange(rows), lens)
                if n_shards > 1:
                    keep = _in_shard(g, n_shards, shard)
                    g, doc = g[keep], doc[keep]
                n_grams = np.bincount(doc, minlength=rows)
                hits = np.bincount(
                    doc[_test_all_k(bits, _probe_matrix(g, k, m))],
                    minlength=rows,
                )
                cand_text = pc.if_else(
                    pa.array(hits >= 1),
                    batch.column(1),
                    pa.scalar(None, type=batch.schema.field(1).type),
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column(0),
                        pa.array(n_grams, type=pa.int64()),
                        pa.array(hits, type=pa.int64()),
                        cand_text,
                    ],
                    schema=pa.schema(
                        [
                            batch.schema.field(0),
                            pa.field("n_grams", pa.int64(), False),
                            pa.field("bloom_hits", pa.int64(), False),
                            pa.field(text_col, batch.schema.field(1).type, True),
                        ]
                    ),
                )

        return probe

    # candidates = ANY possible gram hit (not min_hits): bloom_hits upper-
    # bounds exact hits per gram, so bloom_hits == 0 implies exact
    # n_hits == 0 — but a doc with 0 < exact < min_hits must still report
    # its exact n_hits to stay bit-for-bit with contamination().
    if n_shards == 1:
        bitmap, m, k = build_gram_bloom(
            benchmark, text_col=text_col, n=n, fp_rate=fp_rate,
            expected_grams=expected_grams, balance=balance,
        )
        bc = spark.sparkContext.broadcast(bitmap)
        probed = pruned.mapInArrow(
            make_probe(bc, m, k, 0), out_schema
        ).localCheckpoint(eager=False)
    else:
        shard_frames = []
        for shard in range(n_shards):
            bitmap, m, k = build_gram_bloom(
                benchmark, text_col=text_col, n=n, fp_rate=fp_rate,
                expected_grams=(
                    max(1, expected_grams // n_shards)
                    if expected_grams is not None
                    else None
                ),
                balance=balance,
                n_shards=n_shards,
                shard=shard,
            )
            bc = spark.sparkContext.broadcast(bitmap)
            # EAGER checkpoint: the pass must run NOW, while this
            # shard's bitmap is the only one alive — a lazy plan would
            # execute every shard's probe in one job with every bitmap
            # broadcast simultaneously, defeating the memory bound
            frame = pruned.mapInArrow(
                make_probe(bc, m, k, shard), out_schema
            ).localCheckpoint(eager=True)
            # destroy(), not unpersist(): unpersist only evicts executor
            # copies — the DRIVER keeps the master bitmap (and in local
            # mode driver == executor), so the loop would accumulate
            # every shard's bitmap and defeat the bound it exists for.
            # Safe here: the checkpoint is materialized, nothing can
            # re-run the probe lambda. blocking=True so the next shard's
            # build doesn't overlap the previous bitmap's eviction.
            bc.destroy(blocking=True)
            shard_frames.append(frame)
        union = shard_frames[0]
        for frame in shard_frames[1:]:
            union = union.unionByName(frame)
        probed = (
            union.groupBy(id_col)
            .agg(
                F.sum("n_grams").alias("n_grams"),
                F.sum("bloom_hits").alias("bloom_hits"),
                # a candidate's text is identical in every shard that
                # flagged it; max() picks it over the NULLs of shards
                # that did not
                F.max(text_col).alias(text_col),
            )
            .localCheckpoint(eager=False)
        )

    # exact verify tail: distinct gram HASHES of candidate docs joined
    # against the benchmark's distinct gram hashes (r8 — the same 64-bit
    # gram identity the probe and the clean branch already count; the
    # earlier string-gram tail re-shingled every candidate through the
    # interpreted JVM HOF, which at a benchmark-heavy threshold where
    # most of the corpus is a candidate cost ~5 s of the 6.7 s query at
    # sf1.0 — now one Arrow pass + an 8-byte-key join, ~2.6 s total).
    # The candidate side is tiny at production thresholds (true
    # positives + n·fp_rate) and its text rides the checkpointed probe
    # output, so the tail launches no extra job and never touches the
    # corpus again; the join stays shuffle-shaped (bench side may exceed
    # broadcast budgets — that is this operator's reason to exist), and
    # AQE broadcasts it when small.
    from jsl_engine.text_ops_arrow import gram_hash_table

    cand_grams = gram_hash_table(
        probed.where(F.col("bloom_hits") >= 1).select(id_col, text_col),
        text_col, id_col, n,
    ).select(F.col(id_col), F.explode("grams").alias("gram"))
    bench_grams = (
        gram_hash_table(benchmark.select(text_col, F.lit(0).alias("__i")),
                        text_col, "__i", n)
        .select(F.explode("grams").alias("gram"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    verified = (
        cand_grams.join(bench_grams, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )

    clean = probed.where(F.col("bloom_hits") == 0).select(
        F.col(id_col),
        F.col("n_grams"),
        F.lit(0).cast("long").alias("n_hits"),
    )
    return clean.unionByName(verified).select(
        F.col(id_col),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_hits"),
        # gram-less (NULL-text) docs: NULL rate, guarded because ANSI
        # mode makes bare 0/0 long division an error, not NULL
        F.when(
            F.col("n_grams") > 0,
            F.round(F.col("n_hits") / F.col("n_grams"), 6),
        ).alias("hit_rate"),
        (F.col("n_hits") >= F.lit(min_hits)).alias("contaminated"),
    )
