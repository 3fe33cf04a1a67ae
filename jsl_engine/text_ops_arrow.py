"""Arrow-batched (numpy) MinHash / SimHash signature kernels.

A JVM signature built from ``transform``/``aggregate`` lambdas runs in
Spark's expression interpreter — higher-order functions do not
participate in whole-stage codegen — which sets a ~1 ms/doc/core floor
for 64-hash signatures over ~300 shingles (docs/DESIGN.md "Higher-order
functions are interpreted"). At 10^12 documents that floor is ~35
executor-hours per signature pass, so the signatures are computed here:
one numpy matrix per Arrow batch, ~10-20× the interpreted rate, feeding
the LSH banding / Hamming blocking joins of :mod:`jsl_engine.text_ops`.

MinHash, SimHash and winnowing have only these Arrow kernels; the
MinHash signatures below are the engine's one MinHash hash family.

Every kernel hashes a whole Arrow batch in one call
(:func:`_shingle_hash_batch`) and folds the result per document with
``reduceat``/one sort, so its Python work per document is the string
normalization alone. The exact-verify tail
(:func:`jsl_engine.text_ops.verified_jaccard_pairs`) takes only its gram
table from here (:func:`gram_hash_table`); its per-pair counts are JVM
expressions, so the tail pays one Python stage.

Hash family: a genuinely 64-bit shingle fingerprint — each word is
hashed to 64 bits (forward crc32 in the high half, byte-reversed crc32
in the low half: two distinct GF(2)-linear maps of the word bytes, so a
joint collision needs both 32-bit maps to collide — crc32 alone is even
injective for words ≤ 4 bytes), splitmix64-mixed, then each shingle's
fingerprint is the position-weighted XOR of its words' hashes through a
final splitmix64. This replaces the earlier crc32-then-splitmix64 scheme
whose bijective mixing capped total fingerprint entropy at 2^32 — fatal
for :func:`winnow_flat_arrow`, where fingerprints are *global equi-join
keys*: at 10^12 docs a 2^32 key space saturates (every value shared by
thousands of docs), so the max_bucket guard would prune essentially all
buckets and unrelated docs would share >= min_shared fingerprints by
collision. Hashing per word instead of per shingle also removes the
per-shingle string join, so the fix is *faster* than the scheme it
replaces. MinHash semantics need only a well-mixed family; the
planted-dup and estimate-tracking tests pin them on this one.
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from jsl_engine.partitioning import fan_out

#: ASCII flag: Java regex \s (the JVM kernels' normalizer) matches only
#: ASCII whitespace, while Python's default \s is Unicode-aware — without
#: the flag, documents containing NBSP/U+2028/U+0085 would shingle
#: differently across the two kernels.
_WS = re.compile(r"\s+", re.ASCII)

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 arrays (wrapping arithmetic)."""
    z = x + _GOLDEN
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


#: Odd position constants for combining word hashes into shingle
#: fingerprints (odd => multiplication mod 2^64 is a bijection, so no
#: position's contribution collapses); supports shingles up to 64 words.
_POS = _splitmix64(np.arange(1, 65, dtype=np.uint64)) | np.uint64(1)

#: Shingle cap of one block of :func:`minhash_signatures_arrow` and
#: :func:`simhash_arrow`, whose per-shingle rows are 64 wide.
_SIG_SHINGLES = 1 << 10

#: Word cap of one hashing chunk in :func:`_shingle_hash_batch`: every
#: temporary array is at most this many uint64s (2 MB), however long the
#: batch's documents are.
_CHUNK_WORDS = 1 << 18


def _shingle_hash_batch(
    texts: "list[str | None]", n: int
) -> tuple[np.ndarray, np.ndarray]:
    """``(values, counts)``: the uint64 (full 64-bit) hashes of the word
    ``n``-gram shingles of a batch of documents, WITH multiplicity and
    in word order, concatenated document after document, and each
    document's shingle count (same normalization as
    :func:`jsl_engine.text_ops.normalized`; SimHash weights repeated
    shingles and MinHash's min is unaffected by repeats, so one hash
    serves every kernel).

    Scheme: 64-bit word hash = (crc32(w) << 32) | crc32(reversed w) —
    two distinct linear maps of the word bytes, jointly 64-bit (see the
    module docstring) — splitmix64-mixed, then per shingle the
    position-weighted XOR of its word hashes (odd-constant multiply per
    offset) through a final splitmix64. A document of ``k >= n`` words
    has ``k - n + 1`` shingles; a shorter one keeps its single
    all-words shingle, matching the JVM ``shingles()`` clipping (the
    empty document is one empty word); a NULL document has none.

    The crc32, mixing and window passes run over all the words of a
    chunk of documents at once — windows that would cross a document
    boundary are dropped — so the per-document cost is the string
    normalization alone. Chunks end at :data:`_CHUNK_WORDS` words (a
    longer document is a chunk of its own)."""
    if not 1 <= n <= len(_POS):
        raise ValueError(
            f"shingle width n={n} is outside 1..{len(_POS)} (the position "
            "constants) — widen _POS if >64-word shingles are ever needed"
        )
    # bytes.split() splits on exactly the ASCII whitespace of _WS and
    # drops edge runs (the JVM's trim); UTF-8 whitespace bytes never
    # occur inside a multi-byte character, so splitting the encoded text
    # is splitting the text. A blank document is one empty word.
    norm = [
        None if t is None else b" ".join(t.lower().encode("utf-8").split())
        for t in texts
    ]
    k = np.fromiter(
        (0 if s is None else s.count(b" ") + 1 for s in norm),
        dtype=np.int64, count=len(norm),
    )
    bounds = np.concatenate(([0], np.cumsum(k)))
    parts = [
        _hash_chunk([s for s in norm[d0:d1] if s is not None], k[d0:d1], n)
        for d0, d1 in _doc_blocks(bounds, _CHUNK_WORDS)
        if bounds[d1] > bounds[d0]
    ]
    values = np.concatenate(parts) if parts else np.empty(0, np.uint64)
    return values, _n_windows(k, n)


def _hash_chunk(norm: "list[bytes]", k: np.ndarray, n: int) -> np.ndarray:
    """Shingle hashes of one chunk of :func:`_shingle_hash_batch`:
    ``norm`` are its non-NULL documents as space-joined UTF-8 words,
    ``k`` the word count of every document in it (0 for NULL)."""
    joined = b" ".join(norm)
    words = joined.split(b" ")
    nw = len(words)
    crc = zlib.crc32
    hi = np.fromiter(map(crc, words), dtype=np.uint32, count=nw)
    # the reversed join's words are the reversed words, last word first
    lo = np.fromiter(
        map(crc, joined[::-1].split(b" ")), dtype=np.uint32, count=nw
    )[::-1]
    wm = _splitmix64((hi.astype(np.uint64) << np.uint64(32)) | lo)
    return _splitmix64(_window_fold(np.bitwise_xor, wm, k, n, _POS))


def _window_fold(
    ufunc: np.ufunc,
    x: np.ndarray,
    k: np.ndarray,
    w: int,
    weights: "np.ndarray | None" = None,
) -> np.ndarray:
    """Fold every ``w``-wide window of ``x`` that lies inside one
    document with ``ufunc`` (each offset ``o`` weighted by
    ``weights[o]`` when given), in order; ``k`` counts each document's
    values. A document with ``0 < k < w`` values folds whole, once
    (:func:`_n_windows` counts the results per document)."""
    nx = len(x)
    kx = np.repeat(k, k)
    pos = np.arange(nx) - np.repeat(np.cumsum(k) - k, k)
    # the zero padding past the last value only feeds windows that run
    # out of their document, which the keep mask below drops
    padded = np.concatenate((x, np.zeros(w - 1, x.dtype)))
    acc = x.copy() if weights is None else x * weights[0]
    for o in range(1, w):
        term = padded[o:o + nx]
        ufunc(acc, term if weights is None else term * weights[o], out=acc)
    short = kx < w
    if short.any():
        sk = k[(k > 0) & (k < w)]
        xs = x[short] if weights is None else x[short] * weights[pos[short]]
        acc[short & (pos == 0)] = ufunc.reduceat(xs, np.cumsum(sk) - sk)
    return acc[np.where(short, pos == 0, pos <= kx - w)]


def _n_windows(k: np.ndarray, w: int) -> np.ndarray:
    """Per document, the number of values :func:`_window_fold` yields:
    ``k - w + 1``, or 1 for a shorter document, or 0 for an empty one."""
    return np.where(k >= w, k - w + 1, np.minimum(k, 1))


def _doc_blocks(bounds: np.ndarray, cap: int) -> "Iterator[tuple[int, int]]":
    """Consecutive document ranges ``[d0, d1)`` holding at most ``cap``
    values each (a longer document is a range of its own), from the
    documents' value offsets ``bounds`` (``len(docs) + 1`` of them)."""
    d0, nd = 0, len(bounds) - 1
    while d0 < nd:
        d1 = max(
            int(np.searchsorted(bounds, bounds[d0] + cap, "right")) - 1, d0 + 1
        )
        yield d0, d1
        d0 = d1


def _distinct_per_doc(
    values: np.ndarray, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(distinct, lens, runs)`` for values grouped by document
    (``counts`` per document, in order): each document's distinct values
    in ascending uint64 order, concatenated document after document; how
    many each document has; and each distinct value's multiplicity in
    its document — ``np.unique(..., return_counts=True)`` per document,
    in one sort."""
    doc = np.repeat(np.arange(len(counts)), counts)
    order = np.lexsort((values, doc))
    v, d = values[order], doc[order]
    first = np.ones(len(v), dtype=bool)
    first[1:] = (v[1:] != v[:-1]) | (d[1:] != d[:-1])
    starts = np.flatnonzero(first)
    lens = np.bincount(d[starts], minlength=len(counts))
    return v[starts], lens, np.diff(np.append(starts, len(v)))


def gram_hash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """``id, grams: array<bigint> (sorted distinct), n_grams`` — each
    document's distinct word-``n``-gram 64-bit hashes
    (:func:`_shingle_hash_batch`, the same gram identity every Arrow
    signature kernel uses), computed in one map-only Arrow pass.

    This is the exact-verify tail's document representation (r8): a
    hashed gram set is ~25× smaller than the ``array<string>`` shingle
    arrays the verify joins used to ship (8 B/gram vs ~40-char grams),
    and the tail intersects two of them per pair in-plan
    (``array_intersect`` over int64 arrays, no string-set build). Counts
    over hashed grams equal counts over string grams absent a
    ~2⁻⁶⁴-probability collision — the argument
    :func:`contamination_arrow`'s oracle already accepts.

    NULL-text docs emit NO row (parity with the JVM shingle pin — they
    have no word n-grams)."""
    pruned = df.where(F.col(text_col).isNotNull()).select(id_col, text_col)
    out_schema = StructType(
        [
            pruned.schema[id_col],
            StructField("grams", ArrayType(LongType(), False), False),
            StructField("n_grams", LongType(), False),
        ]
    )

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            grams, lens, _ = _distinct_per_doc(
                *_shingle_hash_batch(batch.column(1).to_pylist(), n)
            )
            values = pa.array(grams.view(np.int64), pa.int64())
            offsets = pa.array(
                np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.ListArray.from_arrays(offsets, values),
                    pa.array(lens, pa.int64()),
                ],
                [id_col, "grams", "n_grams"],
            )

    return pruned.mapInArrow(run, out_schema)


def minhash_signatures_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 5,
    balance: bool = True,
) -> DataFrame:
    """``id, sig: array<bigint>`` — numpy MinHash over Arrow batches.

    Per batch: the shingle hashes of all its documents in one
    :func:`_shingle_hash_batch` call, then
    ``splitmix64(shingles ⊕ seeds)`` folded per document by one
    ``np.minimum.reduceat`` over each block of a few documents.
    The signature table is the interface LSH banding
    (:func:`jsl_engine.text_ops.lsh_candidate_pairs`) and verification
    compose on.

    NULL-text docs emit NO signature row (pinned in tests):
    they have no shingles, so they can never satisfy the near-dup
    contract — and without the exclusion their sentinel signatures
    collide in every band, flooding candidate buckets (and, on the
    streaming surface which has no exact-verify tail, emitting false
    est_jaccard=1.0 pairs). The EMPTY doc keeps its empty-word-shingle
    signature.
    """
    spark = df.sparkSession
    seeds = _splitmix64(np.arange(1, num_hashes + 1, dtype=np.uint64))
    bc = spark.sparkContext.broadcast(seeds)
    pruned = df.where(F.col(text_col).isNotNull()).select(id_col, text_col)
    if balance:
        pruned = fan_out(pruned)
    out_schema = StructType(
        [
            pruned.schema[id_col],
            StructField("sig", ArrayType(LongType(), False), False),
        ]
    )

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        s = bc.value
        width = len(s)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vals, counts = _shingle_hash_batch(
                batch.column(1).to_pylist(), shingle_n
            )
            bounds = np.concatenate(([0], np.cumsum(counts)))
            sigs = np.empty((n, width), dtype=np.uint64)
            # a few documents at a time: the (shingles x hashes) matrix
            # stays cache-sized however long the documents are
            for d0, d1 in _doc_blocks(bounds, _SIG_SHINGLES):
                block = vals[bounds[d0]:bounds[d1], None] ^ s[None, :]
                sigs[d0:d1] = np.minimum.reduceat(
                    _splitmix64(block), bounds[d0:d1] - bounds[d0], axis=0
                )
            values = pa.array(sigs.reshape(-1).view(np.int64), pa.int64())
            offsets = pa.array(
                np.arange(0, (n + 1) * width, width, dtype=np.int32)
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.ListArray.from_arrays(offsets, values)],
                [id_col, "sig"],
            )

    return pruned.mapInArrow(run, out_schema)


def simhash_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    balance: bool = True,
) -> DataFrame:
    """``id, simhash: bigint`` — numpy SimHash over Arrow batches.

    Per block of a few documents: unpack the mixed shingle hashes to a
    (shingles × 64) bit matrix, sum it per document with
    ``np.add.reduceat``, pack the majority bits. The output feeds
    :func:`jsl_engine.text_ops.simhash_pairs_from_hashes`.

    NULL-text docs emit NO simhash row: a ``t or ""`` fallback would give
    NULL the empty doc's simhash, and a Hamming-0 "near-dup" of a NULL
    doc contradicts the near-dup contract anyway (exact-dup territory).
    """
    pruned = df.where(F.col(text_col).isNotNull()).select(id_col, text_col)
    if balance:
        pruned = fan_out(pruned)
    out_schema = StructType(
        [pruned.schema[id_col], StructField("simhash", LongType(), False)]
    )

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vals, counts = _shingle_hash_batch(
                batch.column(1).to_pylist(), shingle_n
            )
            mixed = _splitmix64(vals).astype("<u8")
            bounds = np.concatenate(([0], np.cumsum(counts)))
            out = np.empty(n, dtype=np.uint64)
            for d0, d1 in _doc_blocks(bounds, _SIG_SHINGLES):
                # bit b of a little-endian uint64 is bit b % 8 of byte b // 8
                bits = np.unpackbits(
                    mixed[bounds[d0]:bounds[d1]].view(np.uint8).reshape(-1, 8),
                    axis=1, bitorder="little",
                )
                ones = np.add.reduceat(
                    bits, bounds[d0:d1] - bounds[d0], axis=0, dtype=np.int64
                )
                major = ones * 2 - counts[d0:d1, None] > 0
                out[d0:d1] = np.packbits(
                    major, axis=1, bitorder="little"
                ).view("<u8")[:, 0]
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(out.view(np.int64), pa.int64())],
                [id_col, "simhash"],
            )

    return pruned.mapInArrow(run, out_schema)


def winnow_flat_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 4,
    balance: bool = True,
) -> DataFrame:
    """``(id, fp)`` rows of winnowing-selected k-gram hashes, computed
    entirely in the map: the minimum of every ``window``-wide run of a
    document's shingle hashes, over the whole batch at once
    (:func:`_window_fold`). A JVM window-frame formulation needs a
    per-document window shuffle; here the only shuffle in an
    overlap-detection pipeline is the fingerprint equi-join itself.

    NULL-text docs emit NO fingerprint rows (the same rule as the
    minhash and simhash kernels)."""
    pruned = df.where(F.col(text_col).isNotNull()).select(id_col, text_col)
    if balance:
        pruned = fan_out(pruned)
    out_schema = StructType(
        [pruned.schema[id_col], StructField("fp", LongType(), False)]
    )

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            vals, counts = _shingle_hash_batch(batch.column(1).to_pylist(), k)
            # a doc with fewer than `window` shingles keeps its minimum
            mins = _window_fold(np.minimum, _splitmix64(vals), counts, window)
            fps, lens, _ = _distinct_per_doc(mins, _n_windows(counts, window))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, lens)),
                    pa.array(fps.view(np.int64), pa.int64()),
                ],
                [id_col, "fp"],
            )

    return pruned.mapInArrow(run, out_schema)


def fingerprint_overlap_pairs_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    max_bucket: int = 64,
) -> DataFrame:
    """Containment candidates on the Arrow winnowing kernel — the shared
    guard-then-join tail (:func:`jsl_engine.text_ops.overlap_pairs_from_flat`),
    one shuffle fewer on the fingerprint side (see
    :func:`winnow_flat_arrow`)."""
    from jsl_engine.text_ops import overlap_pairs_from_flat

    flat = winnow_flat_arrow(df, text_col, id_col, k, window)
    return overlap_pairs_from_flat(flat, id_col, min_shared, max_bucket)


def minhash_near_duplicates_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    cache: bool = True,
) -> DataFrame:
    """End-to-end near-dup on the Arrow signature kernel (EAGER by
    default: ``cache=True`` materializes signatures at construction;
    ``cache=False`` keeps composition action-free): the shared LSH
    banding + estimated-Jaccard tail
    (:func:`jsl_engine.text_ops.near_duplicates_from_signatures`) — the
    signature table is the interface. ``cache=True`` caches the
    signature table because three plan branches consume it (banding +
    both verify joins); the cache stays pinned for the session, so
    long-lived drivers pass ``cache=False`` and materialize to a table
    instead."""
    from jsl_engine.text_ops import near_duplicates_from_signatures

    sigs = minhash_signatures_arrow(df, text_col, id_col, num_hashes, shingle_n)
    if cache:
        sigs = sigs.cache()
        # eager: within one action the join build sides start before
        # the probe side has populated a lazy cache, so the signature
        # plan would still run twice
        sigs.count()
    return near_duplicates_from_signatures(sigs, id_col, threshold, bands, num_hashes)


def minhash_near_duplicates_exact_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    cache: bool = False,
    max_bucket: int = 64,
) -> DataFrame:
    """Headline near-dup: Arrow MinHash signatures propose
    candidates via LSH banding, then every candidate is verified with the
    **exact** word-``shingle_n``-gram Jaccard
    (:func:`jsl_engine.text_ops.verified_jaccard_pairs`) — the output
    contract is *all pairs with exact Jaccard ≥ threshold* **among
    candidates surviving the ``max_bucket`` oversized-bucket guard**: a
    duplicate cluster larger than ``max_bucket`` collides in EVERY band
    and is pruned whole (that pathology is exact-dup territory — run
    :func:`jsl_engine.text_ops.dedup_exact` first, or lift
    ``max_bucket`` for the unqualified contract, as the oracled driver
    query does). With 16 bands × 4 rows the per-pair miss odds at
    Jaccard 0.8 are (1-0.8⁴)¹⁶ ≈ 2·10⁻⁴ and fall super-exponentially
    above it; the DuckDB full-pair oracle checks recall end-to-end.
    Returns ``id_a, id_b, jaccard``.

    ``cache`` defaults to False since r8: unlike the estimated-Jaccard
    variant (whose verify re-reads the signature table from two join
    branches), the EXACT verify re-derives grams from the raw text, so
    the signature table here has exactly ONE consuming exchange — the
    banding window and its self-join share it via ReusedExchange — and
    the eager cache job was pure overhead (measured r8 at sf1.0: 4.4 s
    → 3.2 s, identical pairs). ``cache=True`` restores the old
    behavior for callers that additionally consume ``sigs``."""
    from jsl_engine.text_ops import lsh_candidate_pairs, verified_jaccard_pairs

    sigs = minhash_signatures_arrow(df, text_col, id_col, num_hashes, shingle_n)
    if cache:
        sigs = sigs.cache()
        sigs.count()  # eager: see minhash_near_duplicates_arrow
    cands = lsh_candidate_pairs(
        sigs, id_col, bands, max_bucket=max_bucket, num_hashes=num_hashes
    )
    return verified_jaccard_pairs(df, cands, text_col, id_col, shingle_n, threshold)


def winnow_overlap_exact_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 4,
    min_shared: int = 1,
    max_bucket: int = 64,
    verify_n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Headline winnowing overlap: Arrow winnowing fingerprints propose
    candidate pairs (``min_shared`` defaults to 1 here — the exact verify
    makes a loose candidate net free of precision cost), then the exact
    word-``verify_n``-gram Jaccard filter
    (:func:`jsl_engine.text_ops.verified_jaccard_pairs`) gives the
    engine-independent contract *all pairs with exact Jaccard ≥
    threshold* **among candidates surviving the ``max_bucket`` guard**
    (a fingerprint shared by more docs than ``max_bucket`` pairs nobody —
    lift it for the unqualified contract, as the oracled driver query
    does). Winnowing's guarantee (any contiguous match of length ≥
    window+k-1 shares a selected fingerprint) makes high-overlap pairs
    candidates with certainty; the DuckDB full-pair oracle checks recall
    end-to-end. Returns ``id_a, id_b, jaccard``."""
    from jsl_engine.text_ops import verified_jaccard_pairs

    cands = fingerprint_overlap_pairs_arrow(
        df, text_col, id_col, k, window, min_shared, max_bucket
    )
    return verified_jaccard_pairs(df, cands, text_col, id_col, verify_n, threshold)


def fuzzy_contamination_exact_arrow(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    candidate_est: float = 0.2,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    max_bucket: int = 64,
) -> DataFrame:
    """Fuzzy decontamination with an exact-verified contract: cross-corpus
    MinHash banding (benchmark side broadcast) proposes candidates at a
    deliberately loose estimated-Jaccard floor (``candidate_est``), then
    each candidate is verified with the exact word-``shingle_n``-gram
    Jaccard against the benchmark document — output contract *all
    (corpus, benchmark) pairs with exact Jaccard ≥ threshold*. Returns
    ``doc_id, bench_id, jaccard``."""
    from jsl_engine.text_ops import (
        cross_corpus_near_dups_from_signatures,
        verified_jaccard_pairs,
    )

    c = minhash_signatures_arrow(df, text_col, id_col, num_hashes, shingle_n)
    b = minhash_signatures_arrow(benchmark, text_col, id_col, num_hashes, shingle_n)
    # the verify corpus is the UNION of both sides, so ids must be
    # disambiguated: corpus and benchmark number their documents
    # independently in the realistic case, and a shared raw id would make
    # the verify join fan a candidate out against the WRONG side's text.
    # A (side, id) struct is the join key; structs equi-join natively.
    def tagged(side: int, col):
        return F.struct(F.lit(side).alias("side"), col.alias("v"))

    cands = cross_corpus_near_dups_from_signatures(
        c, b, id_col=id_col, threshold=candidate_est, bands=bands,
        num_hashes=num_hashes, max_bucket=max_bucket,
    ).select(
        tagged(0, F.col(id_col)).alias("id_a"),
        tagged(1, F.col("bench_id")).alias("id_b"),
    )
    both = df.select(
        tagged(0, F.col(id_col)).alias(id_col), F.col(text_col)
    ).unionByName(
        benchmark.select(tagged(1, F.col(id_col)).alias(id_col), F.col(text_col))
    )
    out = verified_jaccard_pairs(both, cands, text_col, id_col, shingle_n, threshold)
    return out.select(
        F.col("id_a.v").alias(id_col), F.col("id_b.v").alias("bench_id"), "jaccard"
    )


def contamination_arrow(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 1,
    balance: bool = True,
) -> DataFrame:
    """Benchmark decontamination on the Arrow kernel — the 10^12-doc
    path for :func:`jsl_engine.text_ops.contamination`: the benchmark's
    distinct gram hashes become one sorted uint64 numpy array (hashed
    driver-side — eval suites are small — and broadcast), and each
    corpus document's hit count is a vectorized ``searchsorted``
    membership test inside ``mapInArrow``. Output schema matches the JVM
    variant exactly.

    ZERO joins and ZERO operator-added shuffles: the whole operator is
    one map-only pass (``balance=True`` may insert ONE input-conditioning
    round-robin exchange when the scan under-splits — a no-op at scale,
    see :func:`jsl_engine.partitioning.fan_out`) (the JVM variant broadcast-joins exploded gram strings and
    re-aggregates — its shuffle is small, but its shingle HOF runs in
    Spark's expression interpreter; measured 5.4s → ~1s at sf0.1).
    Counts equal the JVM variant's absent a 64-bit hash collision
    (~1e-6 at 10^7 distinct grams), which is why this variant can share
    the string-based DuckDB oracle. Driver-side benchmark hashing is a
    plan-construction action, same precedent as IVF centroid training."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark = df.sparkSession
    bench_texts = [
        r[0] for r in benchmark.select(text_col).collect() if r[0] is not None
    ]
    bench_hashes = np.unique(_shingle_hash_batch(bench_texts, n)[0])
    bc = spark.sparkContext.broadcast(bench_hashes)

    pruned = df.select(id_col, text_col)
    if balance:
        pruned = fan_out(pruned)
    # the kernel emits only the counts; hit_rate/contaminated are Spark
    # expressions on top so rounding (F.round = HALF_UP, matching the JVM
    # variant and DuckDB) stays engine-identical — np.round is HALF_EVEN
    out_schema = StructType(
        [
            pruned.schema[id_col],
            StructField("n_grams", LongType(), False),
            StructField("n_hits", LongType(), False),
        ]
    )

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        bs = bc.value
        for batch in batches:
            rows = batch.num_rows
            if rows == 0:
                continue
            # NULL text has NO grams (n_grams=0, hit_rate NULL, not
            # contaminated) — pinned with the JVM twin and the DuckDB
            # oracle; the EMPTY doc keeps its one empty-word shingle in
            # all three engines
            g, n_grams, _ = _distinct_per_doc(
                *_shingle_hash_batch(batch.column(1).to_pylist(), n)
            )
            if bs.size:
                hit = bs[np.minimum(np.searchsorted(bs, g), bs.size - 1)] == g
            else:
                hit = np.zeros(g.size, dtype=bool)
            n_hits = np.bincount(
                np.repeat(np.arange(rows), n_grams)[hit], minlength=rows
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(n_grams, type=pa.int64()),
                    pa.array(n_hits, type=pa.int64()),
                ],
                schema=pa.schema(
                    [
                        batch.schema.field(0),
                        pa.field("n_grams", pa.int64(), False),
                        pa.field("n_hits", pa.int64(), False),
                    ]
                ),
            )

    return pruned.mapInArrow(run, out_schema).select(
        F.col(id_col),
        "n_grams",
        "n_hits",
        # gram-less (NULL-text) docs: NULL rate, guarded because ANSI
        # mode makes bare 0/0 long division an error, not NULL
        F.when(
            F.col("n_grams") > 0,
            F.round(F.col("n_hits") / F.col("n_grams"), 6),
        ).alias("hit_rate"),
        (F.col("n_hits") >= F.lit(min_hits)).alias("contaminated"),
    )


#: Span-hash sentinel for NULL texts. The JVM ``shingles(NULL)`` path
#: collapses to a single NULL span (``split(normalized(NULL))`` is NULL,
#: ``greatest`` skips the NULL size, and ``array_join`` of a NULL slice
#: is NULL) — NULL documents group with each other and with nothing
#: else. A fixed 64-bit constant reproduces exactly that equivalence
#: class; it cannot collide with the empty document's hash (its
#: single empty-word shingle) or any real span except by the
#: same 2^-64 chance every distinct span pair already carries.
_NULL_SPAN = _splitmix64(np.asarray([0x6E756C6C], dtype=np.uint64))


def span_hash_counts_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 13,
    balance: bool = True,
) -> DataFrame:
    """``(id, span_h, __cd)`` — per-document span-hash multiplicities,
    computed entirely in the map: one :func:`_shingle_hash_batch` call
    per batch (stride-1 word ``span_tokens``-grams, 64-bit fingerprints)
    folded per document by :func:`_distinct_per_doc`. This is the Arrow twin
    of the ``explode(shingles) → groupBy(id, span)`` head of
    :func:`jsl_engine.text_ops.duplicate_spans`: identical counts (span
    equality ↔ hash equality up to 2^-64 collisions), but no span
    *instances* ever reach a shuffle — the per-(doc, span) fold happens
    before the first exchange, and the rows it emits carry an 8-byte
    hash instead of a ~100-byte string. Short docs collapse to their
    single all-words shingle (the ``_shingle_hash_batch`` k<n clip), empty
    docs to the empty-word shingle, NULL docs to :data:`_NULL_SPAN`."""
    pruned = df.select(id_col, text_col)
    if balance:
        pruned = fan_out(pruned)
    out_schema = StructType(
        [
            pruned.schema[id_col],
            StructField("span_h", LongType(), False),
            StructField("__cd", LongType(), False),
        ]
    )

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            texts = batch.column(1).to_pylist()
            vals, counts = _shingle_hash_batch(texts, span_tokens)
            null = np.flatnonzero([t is None for t in texts])
            if null.size:
                # a NULL doc has no shingles; it gets the one NULL span
                vals = np.insert(vals, (np.cumsum(counts) - counts)[null],
                                 _NULL_SPAN[0])
                counts[null] = 1
            uniq, lens, cnt = _distinct_per_doc(vals, counts)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, lens)),
                    pa.array(uniq.view(np.int64), pa.int64()),
                    pa.array(cnt, pa.int64()),
                ],
                [id_col, "span_h", "__cd"],
            )

    return pruned.mapInArrow(run, out_schema)


def _round6(x: float) -> float:
    """Spark ``F.round(col, 6)`` double semantics: HALF_UP over the
    SHORTEST decimal representation (Java ``BigDecimal.valueOf``, which
    routes through ``Double.toString`` — pinned empirically against the
    JVM: 3/640 → 0.004688, where exact-binary-expansion HALF_UP and
    Python's banker's round both give 0.004687)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def repetition_profile_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    balance: bool = True,
) -> DataFrame:
    """Arrow twin of :func:`jsl_engine.text_ops.repetition_profile`
    (lines + bigrams arms) — identical output contract::

        id, n_words, n_lines, dup_line_frac, dup_line_char_frac,
        top_bigram_share

    Every Gopher repetition signal is a PER-DOCUMENT statistic, so none
    of it needs an exchange: one Counter pass per document replaces the
    JVM arm's interpreted O(lines²) duplicate-char HOF and its bigram
    ``explode → groupBy(id, bigram) → groupBy(id)`` two-level shuffle —
    at 10^12 documents that drops the largest shuffle of the repetition
    pass entirely (the JVM arm stays for plan-free SQL composition).
    Parity contract (pinned in tests): same normalization as the JVM
    chain (ASCII-``\\s`` collapse + lower + space-trim), raw-text
    ``\\n`` line splitting with empty lines excluded from duplicate
    metrics, the 1-word bigram clip (``concat_ws`` drops the missing
    second word), NULL text → all-NULL metrics, and Spark's
    shortest-repr HALF_UP rounding (:func:`_round6`). Known-divergence
    class (same as :mod:`jsl_engine.lang_arrow`'s final-sigma note):
    Python ``str.lower`` and the JVM's locale-independent
    ``UTF8String.toLowerCase`` can disagree on exotic case mappings
    (dotted-I etc.) — identical on ASCII, where the parity is pinned;
    char-fraction metrics count code points (= the DuckDB oracle's
    LENGTH) where Java ``length`` counts UTF-16 units, differing only
    on astral-plane characters."""
    from collections import Counter

    from pyspark.sql.types import DoubleType

    pruned = df.select(id_col, text_col)
    if balance:
        pruned = fan_out(pruned)
    out_schema = StructType(
        [
            pruned.schema[id_col],
            StructField("n_words", LongType(), True),
            StructField("n_lines", LongType(), True),
            StructField("dup_line_frac", DoubleType(), True),
            StructField("dup_line_char_frac", DoubleType(), True),
            StructField("top_bigram_share", DoubleType(), True),
        ]
    )

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            texts = batch.column(1).to_pylist()
            nw = np.empty(n, dtype=object)
            nl = np.empty(n, dtype=object)
            dlf = np.empty(n, dtype=object)
            dlcf = np.empty(n, dtype=object)
            tbs = np.empty(n, dtype=object)
            for i, t in enumerate(texts):
                if t is None:
                    nw[i] = nl[i] = dlf[i] = dlcf[i] = tbs[i] = None
                    continue
                words = _WS.sub(" ", t.lower()).strip(" ").split(" ")
                k = len(words)
                nw[i] = k
                all_lines = t.split("\n")
                nl[i] = len(all_lines)
                cnt = Counter(l for l in all_lines if l != "")
                nn = sum(cnt.values())
                dup_chars = tot_chars = 0
                for line, c in cnt.items():
                    ln = len(line) * c
                    tot_chars += ln
                    if c > 1:
                        dup_chars += ln
                dlf[i] = _round6((nn - len(cnt)) / max(nn, 1))
                dlcf[i] = _round6(dup_chars / max(tot_chars, 1))
                if k >= 2:
                    bg = Counter(zip(words, words[1:]))
                    tbs[i] = _round6(max(bg.values()) / (k - 1))
                else:
                    # JVM clip: k = max(n_words - 1, 1) bigram slots and
                    # concat_ws drops the absent second word — a 1-word
                    # doc has exactly its own word as its single bigram
                    tbs[i] = 1.0
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(list(nw), type=pa.int64()),
                    pa.array(list(nl), type=pa.int64()),
                    pa.array(list(dlf), type=pa.float64()),
                    pa.array(list(dlcf), type=pa.float64()),
                    pa.array(list(tbs), type=pa.float64()),
                ],
                names=[batch.schema.field(0).name, "n_words", "n_lines",
                       "dup_line_frac", "dup_line_char_frac",
                       "top_bigram_share"],
            )

    return pruned.mapInArrow(run, out_schema)
