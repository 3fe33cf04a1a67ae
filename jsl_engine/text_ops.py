"""Text-corpus operators for large-scale training-data pipelines:
deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard), language ID,
quality scoring, token counting, and document fingerprinting.

These are engine additions beyond the reference (which validates single
JSON documents only); they operate on a ``documents(doc_id, text, lang,
source, n_chars)`` table and are built Spark-first:

* everything cheap stays in JVM expressions (``F.sha2``, ``F.xxhash64``,
  ``regexp_count``, ``transform``/``aggregate`` over arrays) — no Python
  in the hot path;
* MinHash signatures come from the Arrow kernel
  (:func:`jsl_engine.text_ops_arrow.minhash_signatures_arrow`); banding
  here turns near-dup detection into an equi-join (shuffle on band
  keys) instead of an O(n²) comparison;
* SimHash signatures come from the Arrow kernel
  (:func:`jsl_engine.text_ops_arrow.simhash_arrow`); the Hamming tail
  here is ``bit_count(a XOR b)`` — again a plain join + expression.

Scale notes: candidate generation is always join-on-key (LSH bucket,
band hash, fingerprint); nothing materializes pairwise products except
within a bucket. Bucket skew (e.g. boilerplate shingles) is bounded by
``max_bucket`` — oversized buckets are pruned from the banded rows
*before* the self-join (windowed bucket count), so they contribute zero
join rows: the standard trade at web scale, applied where it actually
protects the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from jsl_engine.partitioning import hash_spread

# ---------------------------------------------------------------------------
# normalization + shingles
# ---------------------------------------------------------------------------

def normalized(col):
    """Lowercase, collapse whitespace — the canonical text for hashing."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def shingles(col, n: int = 5):
    """Word n-gram shingles as an array<string> (JVM-side: split + transform
    over index range; empty/short docs yield their single token-join)."""
    words = F.split(normalized(col), " ")
    k = F.greatest(F.size(words) - (n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def content_hash_expr(text_col: str = "text"):
    """The exact-dup identity: sha256 with NULL text mapped to a
    sentinel group key. A bare ``sha2`` would give NULL docs a NULL
    hash, and a NULL key never matches itself in a join or anti-join —
    NULL-text docs would neither group nor survive
    :func:`dedup_exact`, and the dedup job's retained-state sha check
    would silently re-admit them across batches. The sentinel is not
    valid hex, so it cannot collide with a real digest. Shared by
    :func:`dedup_exact`, the ``exact_dup_documents`` query and
    ``jobs/dedup_job.py``'s state rows — the identity MUST be the same
    expression everywhere or cross-batch exact checks drift."""
    return F.coalesce(F.sha2(F.col(text_col), 256), F.lit("__null__"))


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per identical text. NULL-text
    docs are one group via :func:`content_hash_expr`'s sentinel (a bare
    sha2 join key would silently DELETE every NULL doc), so exactly one
    NULL doc survives, like any other dup group."""
    h = df.withColumn("content_hash", content_hash_expr(text_col))
    keep = h.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    return h.join(keep, ["content_hash", id_col]).drop("content_hash")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

def band_rows(
    signatures: DataFrame, id_col: str, bands: int, num_hashes: int
) -> DataFrame:
    """``(id, sig, band, bucket)`` rows: each signature split into
    ``bands`` banded rows keyed by (band index, band hash) — the shared
    banding construction of the batch LSH join
    (:func:`lsh_candidate_pairs`, which drops ``sig``) and the streaming
    stateful near-dup (:func:`jsl_engine.streaming.near_dup_stream`,
    which carries ``sig`` into per-bucket state)."""
    rows_per_band = num_hashes // bands
    return signatures.select(
        F.col(id_col),
        F.col("sig"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                        ",",
                    )
                ),
            )
        ).alias("band", "bucket"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    max_bucket: int = 64,
    num_hashes: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via banding: split each signature into
    ``bands`` rows, bucket on (band index, band hash), pair within bucket.

    Returns ``id_a, id_b, n_bands`` (id_a < id_b; n_bands = how many bands
    collided — a cheap similarity prior).

    Scale-critical ordering: the boilerplate guard runs **before** the
    self-join. Buckets larger than ``max_bucket`` are removed from the
    banded rows with a windowed bucket count, so an oversized bucket
    contributes **zero** join rows — a 10^6-doc boilerplate bucket would
    otherwise materialize ~5·10^11 pairs before any post-hoc filter. The
    window partitions on the same (band, bucket) keys the self-join uses,
    so its exchange is reused by the join. The guard is unconditional and
    fully declarative: no driver-side action, no data-dependent plan.
    Documents dropped from an oversized bucket can still pair through
    their other (non-boilerplate) bands.

    That one band exchange is an explicit repartition into
    ``spark.sql.shuffle.partitions`` partitions, the count the window's
    own exchange would plan. AQE leaves an explicit count alone; left to
    itself it merged the sandbox-sized band exchange (80k rows for 5,000
    documents) into ONE task, so the window and self-join ran on one core
    (the candidate stage over 5,000 signatures: 1.5–1.7 s → 0.9–1.1 s on
    local[4]).

    Pass ``num_hashes`` (the signature length) to keep plan construction
    action-free; if omitted it is probed with a one-row job.
    """
    if num_hashes is not None:
        n = num_hashes
    else:
        row = signatures.select(F.size("sig")).first()
        # empty signature table (e.g. an incremental batch with zero
        # survivors): any n yields the correct empty pair frame
        n = row[0] if row is not None else bands
    banded = band_rows(signatures, id_col, bands, n).drop("sig")
    # boilerplate guard FIRST: windowed bucket size, oversized rows dropped
    # before any pair exists
    w = Window.partitionBy("band", "bucket")
    pruned = (
        hash_spread(banded, "band", "bucket")
        .withColumn("__bucket_n", F.count(F.lit(1)).over(w))
        .where(F.col("__bucket_n") <= max_bucket)
        .drop("__bucket_n")
    )
    a = pruned.alias("a")
    b = pruned.alias("b")
    return (
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
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def _sig_est_jaccard(a: str = "sig_a", b: str = "sig_b"):
    """Estimated Jaccard between two MinHash signature columns —
    matching-position fraction, rounded to the 6-dp grid every verify
    threshold compares on. Defined ONCE: the self-join, cross-corpus and
    incremental pipelines all compare against the same estimate."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / F.size(a),
        6,
    )


def near_duplicates_from_signatures(
    sigs: DataFrame,
    id_col: str,
    threshold: float,
    bands: int,
    num_hashes: int,
) -> DataFrame:
    """LSH banding + estimated-Jaccard verification over a signature
    table — the common tail of every MinHash pipeline (JVM and Arrow
    signature kernels both feed it). ``sigs`` should be materialized
    (cache or storage): three plan branches consume it."""
    cands = lsh_candidate_pairs(sigs, id_col, bands, num_hashes=num_hashes)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", _sig_est_jaccard())
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def cross_corpus_near_dups_from_signatures(
    corpus_sigs: DataFrame,
    bench_sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    threshold: float = 0.7,
    bands: int = 16,
    num_hashes: int = 64,
    max_bucket: int = 64,
) -> DataFrame:
    """Fuzzy decontamination tail: MinHash-LSH join of a corpus
    signature table against a (small) benchmark signature table::

        doc_id, bench_id, est_jaccard   (est_jaccard >= threshold)

    Exact n-gram contamination (:func:`contamination`) misses
    paraphrased or lightly-edited benchmark leaks; banding both sides
    and verifying the signature estimate catches near-copies the way the
    self-join near-dup pipeline does, but **across** corpora.

    Scale shape: the benchmark side (banded rows AND signatures) is
    broadcast — the corpus is never shuffled to meet it. The corpus side
    keeps the oversized-bucket boilerplate guard (windowed count per
    (band, bucket), pruned BEFORE the join — a 10^6-doc boilerplate
    bucket colliding with one benchmark band would otherwise emit 10^6
    candidate rows); genuine contamination of boilerplate-shaped text
    still surfaces through its other bands. Candidate volume is bounded
    by |bench buckets touched| × max_bucket."""
    cb = band_rows(corpus_sigs, id_col, bands, num_hashes)
    bb = band_rows(bench_sigs, id_col, bands, num_hashes).drop("sig")
    w = Window.partitionBy("band", "bucket")
    pruned = (
        cb.withColumn("__bucket_n", F.count(F.lit(1)).over(w))
        .where(F.col("__bucket_n") <= max_bucket)
        .drop("__bucket_n")
    )
    cands = (
        pruned.alias("c")
        .join(
            F.broadcast(bb.alias("b")),
            (F.col("c.band") == F.col("b.band"))
            & (F.col("c.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col(f"c.{id_col}").alias("doc_id_c"),
            F.col("c.sig").alias("sig_c"),
            F.col(f"b.{id_col}").alias("bench_id"),
        )
        .groupBy("doc_id_c", "bench_id")
        .agg(F.first("sig_c").alias("sig_c"))
    )
    bsig = F.broadcast(
        bench_sigs.select(
            F.col(id_col).alias("bench_id"), F.col("sig").alias("sig_b")
        )
    )
    return (
        cands.join(bsig, "bench_id")
        .withColumn("est_jaccard", _sig_est_jaccard("sig_c", "sig_b"))
        .where(F.col("est_jaccard") >= threshold)
        .select(F.col("doc_id_c").alias(id_col), "bench_id", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_pairs_from_hashes(
    h: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 4096,
) -> DataFrame:
    """Pigeonhole block banding + exact Hamming verify over an
    ``(id, simhash)`` table — the common tail of every SimHash pipeline
    (:func:`jsl_engine.text_ops_arrow.simhash_arrow` signatures and the
    media pHash both feed it).

    The 64 signature bits are split into ``max_hamming + 1`` contiguous
    blocks: a pair within Hamming distance ``max_hamming`` differs in at
    most ``max_hamming`` bits, so at least one block carries **zero**
    differing bits and the pair collides on that block's exact value —
    **100% recall among banded rows** (pigeonhole principle), unlike
    prefix blocking or multi-probe, at only ``max_hamming + 1`` banded
    rows per document. The one qualifier is the ``max_bucket`` guard
    below: a (block, value) bucket holding more than ``max_bucket``
    documents is pruned like every other banding operator here, so a
    group of >``max_bucket`` near-identical documents reports no pairs —
    that pathology is exact-dup territory (run :func:`dedup_exact`
    first), and the guard is what keeps a boilerplate cluster from
    materializing ~n²/2 join rows. The verify stage
    (``bit_count(a XOR b) <= max_hamming``) is exact, so precision is
    1.0 by construction; a pair matching in several blocks is
    deduplicated by the final ``distinct``.

    Scale shape mirrors :func:`lsh_candidate_pairs`: the oversized-bucket
    guard (windowed count on the (block, value) key, pruned rows
    contribute zero pairs) runs *before* the self-join and partitions on
    the join keys. ``h`` should be materialized (cache or storage): the
    self-join evaluates the signature plan once per branch — exchange
    reuse does not trigger across the dedup-rewritten branches (measured:
    12.1 s uncached vs 7 s cached at sf0.1, and the shuffle_merge-hinted
    SMJ variant still re-evaluated both branches at 9.1 s).
    """
    n_blocks = max_hamming + 1
    base_w, extra = divmod(64, n_blocks)
    widths = [base_w + 1 if i < extra else base_w for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]

    def mask_lit(w: int):
        # a 64-bit mask doesn't fit a positive bigint literal; all-ones
        # is -1 in two's complement (max_hamming=0 → one full-width block)
        return F.lit((1 << w) - 1 if w < 64 else -1).cast("bigint")

    block_vals = [
        F.shiftrightunsigned("simhash", off).bitwiseAND(mask_lit(w))
        for off, w in zip(offsets, widths)
    ]
    banded = h.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(F.array(*block_vals)).alias("block", "block_val"),
    )
    w = Window.partitionBy("block", "block_val")
    pruned = (
        banded.withColumn("__bucket_n", F.count(F.lit(1)).over(w))
        .where(F.col("__bucket_n") <= max_bucket)
        .drop("__bucket_n")
    )
    a, b = pruned.alias("a"), pruned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for candidate verification / small sets)
# ---------------------------------------------------------------------------

def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets for given candidate pairs
    (id_a, id_b): array_intersect/array_union on distinct shingles. A
    NULL-text document has no n-grams, so a pair touching one is not
    emitted (the NULL-text rule of :func:`verified_jaccard_pairs`)."""
    sh = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.array_distinct(shingles(F.col(text_col), n)).alias("sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ).alias("jaccard"),
        )
    )


def verified_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verification tail for candidate-pair generators:
    ``id_a, id_b, jaccard`` with exact word-``n``-gram Jaccard ≥
    ``threshold``.

    This is what turns a hash-family accelerator (MinHash-LSH banding,
    winnowing fingerprints) into an operator with an engine-independent
    contract: *all pairs with exact Jaccard ≥ threshold*, provided the
    candidate generator's recall holds at the threshold (which banding
    parameters are chosen for, and which the DuckDB full-pair oracle
    checks end-to-end — a recall miss is a hash mismatch, not a silent
    quality loss).

    Scale shape (reworked r8, guide §2.3/§8): the corpus is first
    semi-joined down to the ids that occur in ``pairs`` (at real
    near-dup rates a small fraction of the corpus), then each candidate
    document is reduced to its sorted distinct 64-bit gram hashes in
    one Arrow pass (:func:`jsl_engine.text_ops_arrow.gram_hash_table` —
    the same gram identity the signature kernels hash; counts equal
    string-gram counts absent a ~2⁻⁶⁴ collision, the argument the
    ``contamination_arrow`` oracle already accepts). The hashed gram
    table (~8 B/gram vs ~40-char shingle strings — ~25× fewer verify
    bytes) is broadcast-joined to the pair list, so the candidate pairs
    are never shuffled wide, and the exact intersection per pair is one
    numpy sorted-merge
    (:func:`jsl_engine.text_ops_arrow.pair_intersection_counts`)
    instead of a per-pair JVM string-set build — measured r8 at sf1.0:
    the winnow verify tail over 1.1M candidate pairs dropped 13.6 s →
    ~2 s. The final Jaccard division runs in-plan on the counts, so
    float semantics match ``size(intersect)/size(union)`` exactly.

    The gram-table broadcast is bounded by the CANDIDATE set (the same
    boundedness assumption as the id-set broadcast semi-join); for a
    pathological candidate set too large to broadcast, drop the
    ``F.broadcast`` hint below and both joins degrade to sort-merge with
    the same result.

    EAGER: the candidate pairs are materialized with an eager
    ``localCheckpoint`` — they are small by the near-dup-rate assumption
    and feed THREE plan branches (the two id-set selects and the verify
    join), each of which would otherwise re-run the upstream candidate
    generator; checkpointing also truncates the lineage so the verify
    plan stays flat. Building the tail launches no other job. The gram
    table is NOT checkpointed: it is built and broadcast once, and both
    joins (``ga`` for ``id_a``, ``gb`` for ``id_b``) probe that one
    broadcast (the second is a ``ReusedExchange``). Re-running the
    cheap hashed kernel inside the action measured consistently faster
    than paying a materialization job first (r8: 5.4 s → 4.2 s at 1.1M
    candidate pairs, 3.6 s → 2.4 s at 2.5k — same lesson as round 4's
    rejected shingle-table cache)."""
    from jsl_engine.text_ops_arrow import gram_hash_table, pair_intersection_counts

    p = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    ids = (
        p.select(F.col("id_a").alias(id_col))
        .union(p.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # broadcast the (small) id set so the semi-join prunes map-side (no
    # full-corpus shuffle), then explicitly spread the surviving rows
    # across the cluster before the gram kernel: the candidate subset
    # is a few MB, so both the scan splits and AQE's coalescing would
    # otherwise park it on one or two cores and serialize the hashing
    # (measured 6.8s -> 0.9s at sf0.1 for the old shingling HOF; the
    # same trap applies to any per-doc kernel)
    spread = df.sparkSession.sparkContext.defaultParallelism
    # NULL-text docs have no word n-grams, so they can never satisfy the
    # contract (Jaccard over empty sets is undefined, not 1) — they emit
    # no gram row, so the inner joins drop any candidate pair touching a
    # NULL doc, for every generator that shares this tail (minhash,
    # winnowing, fuzzy contamination, component edges); NULL docs are
    # exact-dup territory (content_hash_expr groups them in dedup_exact).
    sub = (
        df.join(F.broadcast(ids), id_col, "left_semi")
        .where(F.col(text_col).isNotNull())
        .repartition(spread)
    )
    # ONE broadcast gram table, joined under two aliases: the two join
    # branches are the same plan, so Spark builds and broadcasts it once
    # and the second branch reads it back as a ReusedExchange
    grams = F.broadcast(gram_hash_table(sub, text_col, id_col, n))
    ga, gb = grams.alias("ga"), grams.alias("gb")
    counted = pair_intersection_counts(
        p.alias("p")
        .join(ga, F.col("p.id_a") == F.col(f"ga.{id_col}"))
        .join(gb, F.col("p.id_b") == F.col(f"gb.{id_col}"))
        .select(
            "p.id_a", "p.id_b",
            F.col("ga.grams").alias("g_a"), F.col("ga.n_grams").alias("n_a"),
            F.col("gb.grams").alias("g_b"), F.col("gb.n_grams").alias("n_b"),
        )
    )
    return (
        counted.select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter").cast("double") / F.col("n_union"), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def contamination(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share word
    ``n``-grams with an evaluation/benchmark set (the standard
    training-data hygiene check — a doc containing verbatim benchmark
    text leaks the eval into training). Output, one row per corpus doc::

        doc_id, n_grams, n_hits, hit_rate, contaminated

    ``n_grams`` counts the doc's distinct word n-grams, ``n_hits`` how
    many of those occur anywhere in the benchmark,
    ``contaminated = n_hits >= min_hits``.

    Scale shape (100 TB corpus, fixed benchmark): benchmark n-gram
    vocabularies are tiny relative to the corpus (eval suites are
    ~10^5–10^6 grams), so the distinct benchmark grams are **broadcast**
    and probed by a LEFT join on the exploded corpus grams; one
    ``groupBy(doc)`` then counts rows (= distinct grams) and hit markers
    together. The expensive shingle expression is evaluated exactly once
    (a two-branch formulation — hits inner-join + n_grams projection +
    join-back — recomputes it per branch; measured 11.9s → 5.4s at
    sf0.1), and the aggregate partial-combines map-side, so the shuffle
    carries ~one row per document, not per gram. The remaining cost is
    the shingle HOF itself (interpreter-bound, like every JVM text
    kernel here): :func:`jsl_engine.text_ops_arrow.contamination_arrow`
    is the 10^12-doc path — zero joins, zero shuffles, hashed grams.
    The string-gram form here is kept as the oracle-parity reference.

    North-rule context: engine-level addition (the reference validates
    single documents; reference scope src/lib.rs:114-118)."""
    # explode_OUTER + count(gram): a NULL-text doc (shingles → NULL
    # array) keeps its verdict row with n_grams=0 / hit_rate NULL /
    # contaminated false instead of silently vanishing from the output
    # — pinned with the Arrow twin and the DuckDB oracle; its single
    # NULL-gram row never matches the broadcast bench (NULL join key)
    exploded = df.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(shingles(F.col(text_col), n))
        ).alias("gram"),
    )
    bench = (
        benchmark.select(
            F.explode(
                F.array_distinct(shingles(F.col(text_col), n))
            ).alias("gram")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        exploded.join(F.broadcast(bench), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("gram").alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hits"),
        )
        .select(
            F.col(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.when(
                F.col("n_grams") > 0,
                F.round(F.col("n_hits") / F.col("n_grams"), 6),
            ).alias("hit_rate"),
            (F.col("n_hits") >= F.lit(min_hits)).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# text analysis: tokens, quality, language ID, fingerprint
# ---------------------------------------------------------------------------

def repetition_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    bigram_path: str = "agg",
    with_lines: bool = True,
    with_bigrams: bool = True,
) -> DataFrame:
    """Gopher-style repetition signals per document — the quality filters
    that catch boilerplate/spam which length- and punctuation-based
    scores miss::

        <id_col>, n_words [, n_lines, dup_line_frac, dup_line_char_frac]
        [, top_bigram_share]

    * ``dup_line_frac`` — fraction of line *instances* that are repeats
      of an earlier identical line (``(n - n_distinct) / n``);
    * ``dup_line_char_frac`` — fraction of line characters sitting in
      lines that occur more than once (a per-line membership filter —
      O(lines²) inside one document, fine at realistic line counts);
    * ``top_bigram_share`` — occurrences of the most frequent word
      bigram over total bigrams. ``bigram_path='agg'`` (default)
      computes it with an explode → two-level aggregation (the shuffle
      carries (doc, bigram) counts — the 10^12-doc shape);
      ``'hof'`` keeps it map-only with an O(distinct×n) per-doc HOF
      (only sane for short documents; kept for plan-free composition).

    ``n_words`` is always emitted: a W-word document's top bigram share
    is at least 1/(W-1), so any share threshold MUST be applied only
    above a word-count floor (Gopher gates these filters on document
    length) — callers filter ``n_words >= floor AND share > bound``.
    ``with_lines`` / ``with_bigrams`` skip the respective metric's work
    entirely (each family is the dominant cost of its branch; computing
    an unused one wastes the job's largest stage). Rows with NULL text
    keep NULL metrics on every path (the agg path left-joins its
    aggregate so cardinality matches the map-only path).

    Thresholds are the caller's (common web-corpus filters reject
    dup_line_frac > 0.3 or top_bigram_share > 0.18 at ≥ some word
    floor); this operator only measures.
    """
    # scan-split guard: a corpus arriving in fewer splits than cores
    # (one small parquet file, a coalesced upstream) would evaluate the
    # interpreter-bound bigram HOF + explode on one core (measured 7.8s
    # -> 1.1s at sf0.1). fan_out is the one shared implementation of
    # that policy (no-op at production split counts, streaming-safe).
    from jsl_engine.partitioning import fan_out

    df = fan_out(df)
    words = F.split(normalized(F.col(text_col)), " ")
    base_cols = [F.col(id_col), F.size(words).cast("long").alias("n_words")]
    if with_lines:
        all_lines = F.split(F.col(text_col), "\n")
        n_lines = F.size(all_lines)
        # duplicate metrics run over NON-EMPTY lines only: blank
        # paragraph separators are structure, not repetition — counting
        # them makes ordinary double-spaced prose (P paragraphs →
        # P-2 "duplicate" empties) trip the Gopher thresholds (same
        # exclusion remove_frequent_lines documents)
        lines = F.filter(all_lines, lambda x: x != "")
        nn = F.size(lines)
        n_distinct = F.size(F.array_distinct(lines))
        dup_chars = F.aggregate(
            F.filter(
                lines,
                lambda x: F.size(F.filter(lines, lambda y: y == x)) > 1,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x),
        )
        total_chars = F.aggregate(
            lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        )
        base_cols += [
            n_lines.cast("long").alias("n_lines"),
            F.round(
                (nn - n_distinct) / F.greatest(nn, F.lit(1)).cast("double"),
                6,
            ).alias("dup_line_frac"),
            F.round(
                dup_chars / F.greatest(total_chars, F.lit(1)).cast("double"), 6
            ).alias("dup_line_char_frac"),
        ]
    line_metrics = df.select(*base_cols)
    if not with_bigrams:
        return line_metrics
    k = F.greatest(F.size(words) - 1, F.lit(1))
    bigrams = F.transform(
        F.sequence(F.lit(0), k - 1),
        # try_element_at, not element_at: the 1-word clip keeps one
        # bigram slot (k = max(n-1, 1)), whose second word is absent —
        # ANSI element_at throws there, try_element_at yields NULL and
        # concat_ws drops it (the intended single-word bigram)
        lambda i: F.concat_ws(
            " ", F.try_element_at(words, i + 1), F.try_element_at(words, i + 2)
        ),
    )
    out_cols = [c for c in
                (id_col, "n_words", "n_lines", "dup_line_frac",
                 "dup_line_char_frac")
                if with_lines or c in (id_col, "n_words")]
    # NULL-text guard: concat_ws never returns NULL, so a NULL text would
    # otherwise yield bigrams=[''] and a spurious share of 1.0 — gate the
    # share on n_words (NULL for NULL text) on both paths
    def null_guarded(share):
        return F.when(F.col("n_words").isNull(), F.lit(None).cast("double")).otherwise(
            share
        ).alias("top_bigram_share")

    if bigram_path == "hof":
        bg = bigrams
        top = F.array_max(
            F.transform(
                F.array_distinct(bg),
                lambda x: F.size(F.filter(bg, lambda y: y == x)),
            )
        )
        share = F.round(
            top / F.greatest(F.size(bg), F.lit(1)).cast("double"), 6
        )
        return df.select(F.col(id_col), share.alias("__share")).join(
            line_metrics, id_col
        ).select(*out_cols, null_guarded(F.col("__share")))
    # agg path: the two plan branches each evaluate only their own
    # expressions (line HOFs in one, the bigram explode in the other) —
    # no shared expensive expression crosses branches. LEFT join: a NULL
    # text never reaches the explode, and the doc must survive with NULL
    # metrics, not vanish
    counts = (
        df.select(F.col(id_col), F.explode(bigrams).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("__top"), F.sum("c").alias("__n_bg"))
    )
    return line_metrics.join(counts, id_col, "left").select(
        *out_cols,
        null_guarded(
            F.round(
                F.col("__top") / F.greatest(F.col("__n_bg"), F.lit(1)).cast("double"),
                6,
            )
        ),
    )


def unigram_logprob_score(
    df: DataFrame,
    reference: DataFrame | None = None,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 65536,
    alpha: float = 0.5,
) -> DataFrame:
    """CCNet-style proxy-perplexity quality score: the mean unigram
    log-probability of a document's tokens under a reference corpus's
    smoothed unigram model::

        <id_col>, n_tokens, mean_logprob

    The classic LM-quality filter (CCNet, Gopher, RefinedWeb keep the
    best-scoring band): gibberish, OCR noise and wrong-language text
    score far below fluent text from the reference distribution, while
    the length/punctuation heuristics of :func:`quality_score` cannot
    see token *identity* at all.

    Model: the ``vocab_size`` most frequent reference tokens (ties
    broken on the token string) get ``log((count + alpha) / D)``; every
    OOV occurrence gets the unseen-type mass ``log(alpha / D)`` —
    Lidstone smoothing with ``D = total + alpha * (n_vocab + 1)``,
    deterministic by construction. ``reference`` defaults to ``df``
    itself (self-scored corpus).

    Scale shape — bounded stages:

    1. reference token counts: explode → groupBy(token) with map-side
       combine (the shuffle carries the VOCABULARY, not the corpus); the
       top-``vocab_size`` cut is ``orderBy().limit()`` — Spark's
       TakeOrderedAndProject (per-partition partial top-K + bounded
       merge, NO single-reducer global sort); the smoothing denominator
       is a one-row aggregate of the same counts. The ≤ ``vocab_size``
       model rows (with their JVM-computed log-probabilities, so float
       semantics are unchanged) collect to the driver and broadcast —
       the bounded-table pattern the DSIR λ table and BPE type table
       already use;
    2. scoring (r8): ONE map-only Arrow pass over ``(id, text)`` sums
       each document's token log-probs against the broadcast dict — the
       corpus-sized (id, token) explode, the model join, the 10M-row
       per-doc shuffle AND the zero-token left-join-back of the previous
       shape all disappear (guide §2.4/§4.2; measured r8 at sf1.0:
       3.3 s → ~1.5 s). Per-doc summation order is document token order
       — deterministic, unlike the old partition-order partial sums —
       and the 6-dp rounding happens in-plan as before.

    Empty/whitespace-only docs score ``NULL`` (no tokens)."""
    import pyarrow as pa
    from pyspark.sql.types import (
        DoubleType as _Double,
        LongType as _Long,
        StructField as _SF,
        StructType as _ST,
    )

    from jsl_engine.text_ops_arrow import _WS

    if reference is None:
        reference = df
    ref_toks = reference.select(
        F.explode(F.split(normalized(F.col(text_col)), " ")).alias("token")
    ).where(F.col("token") != "")
    counts = ref_toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    vocab = counts.orderBy(F.desc("c"), F.asc("token")).limit(vocab_size)
    a = F.lit(float(alpha))
    stats = counts.agg(
        (
            F.coalesce(F.sum("c"), F.lit(0))
            + a * (F.least(F.count(F.lit(1)), F.lit(vocab_size)) + 1)
        ).alias("__denom")
    )
    # ONE driver collect for model + OOV mass (the OOV rides as a
    # NULL-token row, so both JVM-log values arrive in a single job)
    model_rows = (
        vocab.crossJoin(F.broadcast(stats)).select(
            "token", F.log((F.col("c") + a) / F.col("__denom")).alias("__logp")
        )
        .unionByName(
            stats.select(
                F.lit(None).cast("string").alias("token"),
                F.log(a / F.col("__denom")).alias("__logp"),
            )
        )
    ).collect()
    oov_lp = next(float(r["__logp"]) for r in model_rows if r["token"] is None)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        (
            {r["token"]: r["__logp"] for r in model_rows if r["token"] is not None},
            oov_lp,
        )
    )

    pruned = df.select(id_col, text_col)
    out_schema = _ST(
        [
            pruned.schema[id_col],
            _SF("n_tokens", _Long(), False),
            _SF("__mean_raw", _Double(), True),
        ]
    )

    def run(batches):
        model, oov_lp = bc.value
        get = model.get
        sub = _WS.sub
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ns: list = []
            means: list = []
            for t in batch.column(1).to_pylist():
                toks = (
                    sub(" ", t.lower()).strip(" ").split(" ")
                    if t is not None
                    else []
                )
                n = 0
                s = 0.0
                for w in toks:
                    if w:
                        s += get(w, oov_lp)
                        n += 1
                ns.append(n)
                means.append(s / n if n else None)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(ns, pa.int64()),
                    pa.array(means, pa.float64()),
                ],
                [id_col, "n_tokens", "__mean_raw"],
            )

    return pruned.mapInArrow(run, out_schema).select(
        id_col,
        "n_tokens",
        F.round(F.col("__mean_raw"), 6).alias("mean_logprob"),
    )


def vocabulary_drift(
    df: DataFrame,
    part_col: str,
    *,
    text_col: str = "text",
    vocab_size: int = 4096,
) -> DataFrame:
    """One-vs-rest Jensen–Shannon divergence of token distributions per
    partition (source/snapshot/day)::

        <part_col>, n_tokens, js_divergence   (in [0, ln 2])

    The content-drift companion to the value-column drift family
    (:mod:`jsl_engine.table_checks`): a source whose *vocabulary*
    shifted (new domain, language mix change, template injection) moves
    JSD even when every numeric column looks stable. Distributions are
    over the global ``vocab_size`` most frequent tokens plus one
    collapsed ``<oov>`` bucket, so the statistic is exact on a bounded
    support.

    Scale shape: ONE token-count aggregation (shuffle carries the
    vocabulary, map-side combined), the top-K membership broadcast back,
    then all JSD terms computed on the ≤ parts × (vocab_size+1) dense
    grid — the corpus is scanned once and never re-shuffled. Zero-count
    terms contribute 0 by the usual 0·ln0 = 0 convention (JSD is always
    finite — no smoothing constant to tune)."""
    toks = df.select(
        F.col(part_col).alias("part"),
        F.explode(F.split(normalized(F.col(text_col)), " ")).alias("token"),
    ).where(F.col("token") != "")
    pc = toks.groupBy("part", "token").agg(F.count(F.lit(1)).alias("c"))
    totals = pc.groupBy("token").agg(F.sum("c").alias("ct"))
    # top-K via orderBy().limit() = TakeOrderedAndProject: per-partition
    # partial top-K + bounded merge — a global row_number window would
    # funnel every distinct token through one reducer task
    top = F.broadcast(
        totals.orderBy(F.desc("ct"), F.asc("token"))
        .limit(vocab_size)
        .select("token", F.lit(True).alias("__in_vocab"))
    )
    bucketed = (
        pc.join(top, "token", "left")
        .withColumn(
            "bucket",
            F.when(F.col("__in_vocab"), F.col("token")).otherwise(F.lit("<oov>")),
        )
        .groupBy("part", "bucket")
        .agg(F.sum("c").alias("c_part"))
    )
    tb = bucketed.groupBy("bucket").agg(F.sum("c_part").alias("c_tot"))
    parts = bucketed.groupBy("part").agg(F.sum("c_part").alias("n_part"))
    grand = Window.partitionBy()
    parts = parts.withColumn(
        "n_rest", F.sum("n_part").over(grand) - F.col("n_part")
    )
    # densify over the FULL parts × buckets grid: a bucket the partition
    # never uses still carries rest-side probability mass (q > 0, p = 0),
    # and dropping those terms silently understates the divergence — the
    # same densification _binned_part_counts does for the numeric drift
    # family. The grid is bounded: |parts| × (vocab_size + 1) rows.
    grid = parts.select("part", "n_part", "n_rest").crossJoin(tb)
    j = grid.join(bucketed, ["part", "bucket"], "left").withColumn(
        "c_part", F.coalesce(F.col("c_part"), F.lit(0))
    ).withColumn("c_rest", F.col("c_tot") - F.col("c_part"))
    p = F.col("c_part") / F.col("n_part")
    q = F.col("c_rest") / F.col("n_rest")
    m = (p + q) / 2
    term = (
        F.when(F.col("c_part") > 0, 0.5 * p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(F.col("c_rest") > 0, 0.5 * q * F.log(q / m)).otherwise(F.lit(0.0))
    )
    return (
        j.groupBy("part")
        .agg(
            F.first("n_part").alias("n_tokens"),
            F.round(F.sum(term), 6).alias("js_divergence"),
        )
        .select(
            F.col("part").alias(part_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "js_divergence",
        )
    )


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 *, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-document text metrics, all JVM expressions::

        id, n_chars, n_tokens, n_lines, punct_ratio, digit_ratio,
        upper_ratio, avg_token_len, fingerprint [, *keep_cols]

    ``keep_cols`` pass through untouched so map-only scorers chain over
    ONE scan instead of join-reassembling corpus-sized frames."""
    t = F.col(text_col)
    n_chars = F.length(t)
    tokens = F.split(F.trim(t), r"\s+")
    n_tokens = F.when(F.length(F.trim(t)) == 0, 0).otherwise(F.size(tokens))
    denom = F.greatest(n_chars, F.lit(1)).cast("double")
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (F.size(F.split(t, "\n", -1))).alias("n_lines"),
        F.round(F.regexp_count(t, F.lit(r"[\.,;:!\?]")) / denom, 6).alias("punct_ratio"),
        F.round(F.regexp_count(t, F.lit(r"[0-9]")) / denom, 6).alias("digit_ratio"),
        F.round(F.regexp_count(t, F.lit(r"[A-Z]")) / denom, 6).alias("upper_ratio"),
        F.round(
            F.length(F.regexp_replace(t, r"\s+", "")).cast("double")
            / F.greatest(n_tokens, F.lit(1)),
            6,
        ).alias("avg_token_len"),
        F.sha2(normalized(t), 256).alias("fingerprint"),
        *[F.col(c) for c in keep_cols],
    )


#: Stopword / function-word marker sets for Latin-script languages.
#: High-frequency, language-distinctive tokens; matched against the
#: punctuation-stripped, lowercased token set.
_LATIN_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for",
           "with", "his", "on", "be", "at", "by"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu", "mit",
           "den", "von", "sich", "auf", "für", "er", "dem"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "que", "pour",
           "dans", "qui", "pas", "sur", "au", "avec", "ce"),
    "es": ("el", "que", "los", "una", "por", "con", "para", "del", "las",
           "es", "se", "no", "su", "más", "como", "pero"),
    "pt": ("o", "que", "não", "uma", "os", "do", "da", "em", "para", "com",
           "um", "por", "mais", "como", "mas", "ele"),
    "it": ("il", "che", "di", "non", "per", "una", "sono", "gli", "anche",
           "come", "più", "nel", "alla", "della", "ha", "si"),
    "nl": ("de", "het", "een", "en", "van", "ik", "te", "dat", "die",
           "niet", "aan", "met", "voor", "er", "maar", "zijn"),
    "sv": ("och", "att", "det", "som", "en", "på", "är", "av", "för",
           "med", "den", "till", "inte", "om", "han", "var"),
    "da": ("og", "det", "at", "en", "den", "til", "er", "som", "på", "de",
           "med", "han", "af", "for", "ikke", "der"),
    "no": ("og", "det", "at", "en", "er", "som", "på", "til", "av", "han",
           "med", "for", "seg", "men", "et", "ikke"),
    "fi": ("ja", "on", "ei", "se", "että", "hän", "oli", "mutta", "kun",
           "ovat", "niin", "kuin", "myös", "jos", "mitä", "tämä"),
    "pl": ("i", "w", "nie", "się", "na", "że", "z", "do", "to", "jest",
           "jak", "po", "co", "tak", "ale", "jego"),
    "cs": ("a", "se", "na", "je", "že", "v", "co", "to", "jsem", "ale",
           "jako", "za", "po", "když", "už", "byl"),
    "tr": ("bir", "ve", "bu", "da", "ne", "için", "çok", "ama", "gibi",
           "daha", "sonra", "kadar", "ile", "en", "de", "var"),
    "ro": ("și", "în", "de", "la", "cu", "o", "este", "pe", "un", "care",
           "nu", "se", "mai", "din", "dar", "sunt"),
    "hu": ("a", "az", "és", "hogy", "nem", "is", "egy", "ez", "volt",
           "meg", "csak", "már", "mint", "el", "van", "de"),
    "id": ("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini",
           "dari", "dalam", "akan", "pada", "adalah", "ke", "juga", "atau"),
    "vi": ("và", "của", "là", "có", "không", "được", "trong", "người",
           "cho", "một", "những", "này", "với", "các", "đã", "khi"),
}

#: Marker sets disambiguating Cyrillic-script languages.
_CYRILLIC_MARKERS: dict[str, tuple[str, ...]] = {
    "ru": ("и", "в", "не", "на", "что", "он", "это", "как", "его", "но",
           "она", "по", "из", "у", "так", "был"),
    "uk": ("і", "в", "не", "на", "що", "він", "це", "як", "його", "але",
           "вона", "по", "з", "у", "так", "був"),
}

#: (lang, Java-regex character class) for script-detected languages, in
#: precedence order: Hangul before Han (Korean may mix Hanja), kana before
#: Han (Japanese is kanji + kana).
_SCRIPT_CLASSES: tuple[tuple[str, str], ...] = (
    ("ko", r"\p{IsHangul}"),
    ("ja", r"[\p{IsHiragana}\p{IsKatakana}]"),
    ("zh", r"\p{IsHan}"),
    ("th", r"\p{IsThai}"),
    ("he", r"\p{IsHebrew}"),
    ("el", r"\p{IsGreek}"),
    ("ar", r"\p{IsArabic}"),
    ("hi", r"\p{IsDevanagari}"),
    ("__cyr", r"\p{IsCyrillic}"),  # resolved to ru/uk by markers
)


def _marker_scores(tokens, markers: dict[str, tuple[str, ...]]):
    """array<struct<hits,lang>> of marker-set intersections; argmax via
    array_max (ties broken by lang descending — deterministic, documented)."""
    return F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(tokens, F.array(*[F.lit(w) for w in words]))
                ).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in markers.items()
        ]
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                *, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Heuristic language ID over ~27 languages, all JVM expressions.

    Two signals, script first:

    1. **Unicode-script counting** (``regexp_count`` over Java script
       classes): a script is *dominant* when it covers ≥3 chars and ≥10%
       of non-whitespace chars — classifies zh/ja/ko/th/he/el/ar/hi
       directly and routes Cyrillic to a ru/uk marker vote;
    2. **stopword-marker argmax** for Latin-script languages
       (18 marker sets × 16 words, one ``array_intersect`` each against
       the punctuation-stripped token set).

    ``und`` = no dominant script and zero marker hits. Ties in the argmax
    break deterministically (max hits, then lexicographically larger lang
    code via struct ordering). The token array and script counts are
    materialized in their own projection so the ~20 downstream references
    don't re-run the split/regexp per language (the CollapseProject
    trap: Catalyst re-inlines an aliased expression into every
    reference).

    Heuristic by design (a ~100-language production model would be a
    broadcast fastText scorer behind the same column contract); fully
    oracled in the driver gate (SQL generated from the same
    marker/script tables) and gated by the per-language fixture pytest.
    ``keep_cols`` pass through untouched (see :func:`text_profile`).

    The jobs and the fused curation pass run the numpy kernel
    :func:`jsl_engine.lang_arrow.language_id_arrow`; this operator is
    its independent reference in the parity tests.
    """
    t = F.col(text_col)
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(t), r"[^\p{L}\p{M}\s]+", " "), r"\s+", " "
        )
    )
    base = df.select(
        F.col(id_col),
        F.array_distinct(F.split(cleaned, " ")).alias("__tokens"),
        F.length(F.regexp_replace(t, r"\s", "")).alias("__nchars"),
        *[
            F.regexp_count(t, F.lit(cls)).alias(f"__s_{lang.strip('_')}")
            for lang, cls in _SCRIPT_CLASSES
        ],
        *[F.col(c) for c in keep_cols],
    )
    tokens = F.col("__tokens")
    latin_best = F.array_max(_marker_scores(tokens, _LATIN_MARKERS))
    cyr_best = F.array_max(_marker_scores(tokens, _CYRILLIC_MARKERS))

    def dominant(lang: str):
        c = F.col(f"__s_{lang.strip('_')}")
        return (c >= 3) & (c * 10 >= F.col("__nchars"))

    lang_expr = F.when(
        F.lit(False), F.lit("")
    )  # seed the when-chain with a never-true branch
    hits_expr = F.when(F.lit(False), F.lit(0))
    for lang, _cls in _SCRIPT_CLASSES:
        col = F.col(f"__s_{lang.strip('_')}")
        if lang == "__cyr":
            lang_expr = lang_expr.when(
                dominant(lang),
                F.when(cyr_best["hits"] > 0, cyr_best["lang"]).otherwise(F.lit("und")),
            )
            hits_expr = hits_expr.when(dominant(lang), cyr_best["hits"])
        else:
            lang_expr = lang_expr.when(dominant(lang), F.lit(lang))
            hits_expr = hits_expr.when(dominant(lang), col)
    lang_expr = lang_expr.otherwise(
        F.when(latin_best["hits"] > 0, latin_best["lang"]).otherwise(F.lit("und"))
    )
    hits_expr = hits_expr.otherwise(latin_best["hits"])

    return base.select(
        F.col(id_col),
        lang_expr.alias("lang_id"),
        hits_expr.cast("int").alias("marker_hits"),
        *[F.col(c) for c in keep_cols],
    )


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 *, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Tokenizer-style counting, all JVM regexps::

        id, n_ws_tokens, n_subword_tokens, n_chars, chars_per_token
        [, *keep_cols]

    ``n_ws_tokens`` = whitespace tokens; ``n_subword_tokens`` approximates
    a BPE pre-tokenizer with class runs — letter runs, digit runs, and
    single punctuation marks (``\\p{L}+ | \\p{N}+ | other``) — the unit a
    subword tokenizer would split further, so it upper-bounds words and
    lower-bounds true BPE tokens. The same pattern runs verbatim in
    DuckDB's RE2 (oracled inside ``text_profile_documents``).
    ``keep_cols`` pass through untouched (the map-only chaining contract
    of :func:`text_profile`)."""
    t = F.col(text_col)
    trimmed = F.trim(t)
    n_ws = F.when(F.length(trimmed) == 0, 0).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )
    n_sub = F.regexp_count(t, F.lit(r"\p{L}+|\p{N}+|[^\p{L}\p{N}\s]"))
    return df.select(
        F.col(id_col),
        n_ws.cast("long").alias("n_ws_tokens"),
        n_sub.cast("long").alias("n_subword_tokens"),
        F.length(t).cast("long").alias("n_chars"),
        F.round(
            F.length(t) / F.greatest(n_sub, F.lit(1)).cast("double"), 6
        ).alias("chars_per_token"),
        *[F.col(c) for c in keep_cols],
    )


# ---------------------------------------------------------------------------
# winnowing (rolling-hash fingerprints, MOSS-style)
# ---------------------------------------------------------------------------

def overlap_pairs_from_flat(
    flat: DataFrame, id_col: str, min_shared: int, max_bucket: int
) -> DataFrame:
    """Guard + self-join + shared-count over ``(id, fp)`` rows — the
    common tail of every fingerprint-overlap pipeline (fed by
    :func:`jsl_engine.text_ops_arrow.winnow_flat_arrow`)."""
    w = Window.partitionBy("fp")
    pruned = (
        flat.withColumn("__n", F.count(F.lit(1)).over(w))
        .where(F.col("__n") <= max_bucket)
        .drop("__n")
    )
    a, b = pruned.alias("a"), pruned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  *, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Composite quality score in [0,1] from the profile metrics —
    length band, punctuation presence, not-mostly-digits, token shape.
    Deterministic and cheap; thresholds follow common web-corpus filters.
    ``keep_cols`` pass through (see :func:`text_profile`)."""
    p = text_profile(df, text_col, id_col, keep_cols=keep_cols)
    score = (
        F.when((p.n_tokens >= 10) & (p.n_tokens <= 100_000), 0.25).otherwise(0.0)
        + F.when((p.punct_ratio > 0.0005) & (p.punct_ratio < 0.2), 0.25).otherwise(0.0)
        + F.when(p.digit_ratio < 0.3, 0.25).otherwise(0.0)
        + F.when((p.avg_token_len >= 2.0) & (p.avg_token_len <= 12.0), 0.25).otherwise(0.0)
    )
    return p.select(id_col, F.round(score, 2).alias("quality"),
                    *[F.col(c) for c in keep_cols])


def vocabulary_topk(
    df: DataFrame,
    *,
    text_col: str = "text",
    group_col: str = "lang",
    k: int = 20,
) -> DataFrame:
    """Top-``k`` most frequent tokens per group (corpus vocabulary
    audit — the quick look at what a training mix is actually made of,
    and the input to stopword/boilerplate filters). Output::

        <group_col>, token, n_occ, rank   (rank 1..k, deterministic)

    Rank ties break on the token string so the result is total-ordered
    and hash-comparable across engines.

    Scale shape: tokenize + explode is map-side; the (group, token)
    count aggregates with map-side partial combine — the shuffle carries
    one row per *distinct* (group, token), i.e. vocabulary size, not
    corpus size, and the token in the key spreads classic stopword skew
    across reducers. The top-k window then runs over that small
    aggregated frame partitioned by group. No corpus-sized sort
    anywhere."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(normalized(F.col(text_col)), " ")).alias("token"),
    ).where(F.col("token") != "")
    counts = toks.groupBy("grp", "token").agg(F.count(F.lit(1)).alias("n_occ"))
    w = Window.partitionBy("grp").orderBy(F.desc("n_occ"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("grp").alias(group_col),
            "token",
            F.col("n_occ").cast("long").alias("n_occ"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def vocabulary_topk_scalable(
    df: DataFrame,
    *,
    text_col: str = "text",
    group_col: str = "lang",
    k: int = 20,
    sketch_size: int = 8192,
) -> DataFrame:
    """Top-``k`` tokens per group with **bounded memory per task** — the
    10^12-doc companion to :func:`vocabulary_topk`, whose exact
    ``groupBy(group, token)`` shuffles one row per distinct (group,
    token): fine while vocabulary is bounded, unbounded when tokens are
    arbitrary strings (URLs, hashes, typos) at web scale. Same output
    schema and, when the sketch guarantee holds, the same rows::

        <group_col>, token, n_occ, rank

    Two passes:

    1. **Candidates** — per input partition, a Misra–Gries summary of at
       most ``sketch_size`` counters per group (pandas ``value_counts``
       per Arrow batch, MG decrement on overflow). Summaries (≤
       partitions × sketch_size rows — NOT vocabulary-sized) merge by
       summing; MG undercounts by at most ``n_partition/sketch_size``
       per partition, so every token with true in-partition frequency
       above that appears. The merged top ``4k`` per group become the
       candidate set.
    2. **Exact recount** — one more corpus scan counting ONLY candidate
       tokens (broadcast semi-join before the aggregate), then the same
       deterministic rank window as the exact operator.

    Guarantee: if each true top-``k`` token's count exceeds the summed
    MG undercount bound (``N/sketch_size``), the result EQUALS
    :func:`vocabulary_topk` — which is why the driver query shares its
    oracle SQL. At fixture scale the bound holds by orders of magnitude;
    size ``sketch_size`` ≥ N_partition/min_expected_count in production."""
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(normalized(F.col(text_col)), " ")).alias("token"),
    ).where(F.col("token") != "")
    # the summary schema carries the group column's ACTUAL type — a
    # hardcoded string grp would break (or silently retype) non-string
    # group columns and the "same rows as vocabulary_topk" guarantee
    summary_schema = StructType(
        [
            StructField("grp", df.schema[group_col].dataType),
            StructField("token", StringType()),
            StructField("c", LongType()),
        ]
    )

    def mg_summaries(batches):
        running: dict[str, "pd.Series"] = {}
        for pdf in batches:
            for grp, sub in pdf.groupby("grp", dropna=False):
                counts = sub["token"].value_counts()
                cur = running.get(grp)
                cur = counts if cur is None else cur.add(counts, fill_value=0)
                if len(cur) > sketch_size:
                    # Misra–Gries decrement: subtract the (s+1)-th largest
                    # count, drop non-positives — ≤ sketch_size survive and
                    # every surviving count undercounts by ≤ that amount
                    t = cur.nlargest(sketch_size + 1).iloc[-1]
                    cur = cur.sub(t)
                    cur = cur[cur > 0]
                running[grp] = cur
        for grp, cur in running.items():
            yield pd.DataFrame(
                {"grp": grp, "token": cur.index, "c": cur.values.astype("int64")}
            )

    summaries = toks.mapInPandas(mg_summaries, summary_schema)
    cand_w = Window.partitionBy("grp").orderBy(
        F.desc("c_sum"), F.asc("token")
    )
    candidates = (
        summaries.groupBy("grp", "token")
        .agg(F.sum("c").alias("c_sum"))
        .withColumn("__r", F.row_number().over(cand_w))
        .where(F.col("__r") <= 4 * k)
        .select("grp", "token")
    )
    counts = (
        toks.join(F.broadcast(candidates), ["grp", "token"], "left_semi")
        .groupBy("grp", "token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    w = Window.partitionBy("grp").orderBy(F.desc("n_occ"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("grp").alias(group_col),
            "token",
            F.col("n_occ").cast("long").alias("n_occ"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# near-dup components + dedup-keep-representative
# ---------------------------------------------------------------------------

#: Edge-count ceiling for the driver-side union-find short-circuit in
#: :func:`connected_components`. A million edges is ~16 MB collected and
#: milliseconds of union-find — far below any driver limit — while the
#: per-round distributed loop would burn seconds of scheduling latency
#: on a graph that small.
DRIVER_COMPONENTS_EDGES = 1_000_000


def connected_components(
    pairs: DataFrame,
    *,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over an undirected pair list — the step that
    turns near-dup PAIRS into dedup GROUPS (``id, component`` where
    ``component`` is the smallest id reachable from ``id``).

    Algorithm: iterative minimum-label propagation. Each round every
    vertex adopts the minimum label among itself and its neighbors;
    convergence in at most `diameter` rounds, and near-dup graphs are
    overwhelmingly tiny cliques/chains (diameter 1-3), so the driver loop
    runs 2-4 rounds. Each round is one join + one aggregation on the
    (small) pair list — at 10^12 docs the pair list is the bounded output
    of the guarded LSH/banding stages, orders of magnitude smaller than
    the corpus, and labels converge per-component independently. The loop
    stops when a round changes no label (one tiny driver action per
    round); ``max_iterations`` bounds adversarial chains (a 10^6-vertex
    path would need 10^6 rounds — not a near-dup graph shape), after
    which the loop AUTO-ESCALATES to :func:`connected_components_star`
    (alternating star contraction, O(log² n) rounds on any diameter)
    behind the same contract, with a ``RuntimeWarning`` — a long chain
    degrades to the slower-per-round path instead of killing the job.

    Deterministic, oracle-checkable (a recursive CTE computes the same
    min-reachable-id fixpoint).

    Small graphs (≤ :data:`DRIVER_COMPONENTS_EDGES` distinct edges)
    short-circuit to a driver-side union-find: near-dup edge lists are
    the bounded output of the guarded banding stages, and a
    thousand-edge graph needs two Spark jobs (count + collect), not a
    driver loop of per-round jobs whose wall time is pure scheduling
    latency (measured 4 s quiet → 40 s under neighbor load for the SAME
    sf0.1 graph). The distributed loop remains the path for graphs past
    the threshold, where it is compute- rather than latency-bound.
    """
    # cache the symmetrized edge list: every propagation round joins it,
    # and the upstream pair pipeline (LSH banding, jaccard verify, ...)
    # must not re-run per round. One action materializes edges + the
    # initial labels together.
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    ).cache()
    n_edges = edges.count()
    if n_edges <= DRIVER_COMPONENTS_EDGES:
        spark = pairs.sparkSession
        rows = edges.collect()
        edges.unpersist()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            a, b = find(r["src"]), find(r["dst"])
            if a != b:
                # union by MIN root: any merge touching a component's
                # minimum keeps it as root, so the final root IS the
                # min-reachable-id label the distributed loop computes
                lo, hi = (a, b) if (a <= b) else (b, a)
                parent[hi] = lo
        ids = list({x for r in rows for x in (r["src"], r["dst"])})
        src_field = pairs.schema[a_col]
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructField as _SF, StructType as _ST

        schema = _ST([
            _SF("id", src_field.dataType, True),
            _SF("component", src_field.dataType, True),
        ])
        # an Arrow table, not a row list: a local scan instead of pickled
        # rows through Python workers on every downstream action
        labels = pa.Table.from_pydict(
            {"id": ids, "component": [find(v) for v in ids]},
            schema=to_arrow_schema(schema),
        )
        return spark.createDataFrame(labels, schema)

    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    ).cache()
    labels.count()
    for _ in range(max_iterations):
        # candidate labels: own + every neighbor's current label
        neighbor = edges.join(
            labels.withColumnRenamed("id", "dst"), "dst"
        ).select(F.col("src").alias("id"), "component")
        # localCheckpoint, NOT cache: caching materializes DATA but the
        # LOGICAL plan still nests one level per round — after ~12 rounds
        # the driver OOMs just rendering the plan (found by the
        # nonconvergence regression test). Checkpointing truncates the
        # lineage so every round starts from a flat scan of stored blocks.
        # eager=False + the changed-count as the materializing action:
        # ONE job per round both stores the checkpoint blocks and answers
        # convergence (the former separate eager-checkpoint job cost a
        # full extra driver round trip per iteration — the dominant cost
        # of this loop on a loaded host, where per-job latency inflates).
        # The count must be FULL (no limit-short-circuit): a partial job
        # would leave checkpoint partitions unmaterialized, and once the
        # previous labels unpersist below they are unrecomputable.
        new_labels = (
            labels.select("id", "component").union(neighbor)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        ).localCheckpoint(eager=False)
        changed = (
            new_labels.join(labels.withColumnRenamed("component", "old"), "id")
            .where(F.col("component") != F.col("old"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        # silent partial convergence would hand dedup_near wrong groups
        # (several "representatives" per true component) — escalate to
        # the diameter-independent star-contraction path instead of
        # failing the job: a 100-TB pipeline must not die because one
        # adversarial chain slipped through the banding guards. Same
        # ``id, component`` contract, O(log² n) rounds on ANY shape;
        # equality with the propagation path is pinned in
        # tests/test_text_ops.py.
        import warnings

        labels.unpersist()
        warnings.warn(
            f"connected_components did not converge within {max_iterations} "
            "min-label rounds (graph diameter exceeds a near-dup shape); "
            "escalating to star contraction",
            RuntimeWarning,
            stacklevel=2,
        )
        # hand star the CACHED symmetrized edge list, not `pairs`: star
        # eagerly checkpoints its edge set on entry, so re-deriving it
        # from `pairs` would re-run the whole upstream candidate
        # pipeline (banding + verify over the corpus) — the escalation
        # must degrade the components step, not triple the most
        # expensive stages of the job. Safe to unpersist after the call
        # returns (star's eager checkpoints have already materialized).
        try:
            return connected_components_star(edges, a_col="src", b_col="dst")
        finally:
            edges.unpersist()
    edges.unpersist()
    return labels.select("id", "component")


def connected_components_star(
    pairs: DataFrame,
    *,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_rounds: int = 60,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction — the adversarial-diameter scale path promised by
    :func:`connected_components` (min-label propagation needs `diameter`
    rounds; a 10^6-vertex chain would need 10^6 — star contraction
    converges in O(log² n) rounds on ANY graph shape).

    One round = large-star (every vertex links its strictly-larger
    neighbors to the minimum of its closed neighborhood) then small-star
    (every vertex links its smaller-or-equal neighbors and itself to
    their minimum). Both are windowed min + filter over the edge list —
    **no collect_list**, so a star root of component size 10^6 never
    materializes its neighborhood in one buffer. Edges are
    localCheckpointed per round (flat lineage); convergence = the
    canonical edge set's (count, hash-sum) fingerprint repeating, one
    tiny action per round. Returns the same ``id, component`` contract as
    :func:`connected_components`.
    """
    # vertex universe BEFORE dropping self-loops: a vertex whose only
    # edge is (v, v) must still appear in the output (contract parity
    # with the propagation variant)
    all_vertices = (
        pairs.select(F.col(a_col).alias("id"))
        .union(pairs.select(F.col(b_col).alias("id")))
        .distinct()
        .localCheckpoint()
    )
    e = (
        pairs.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
        .where(F.col("x") != F.col("y"))
        .select(
            F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    prev_n = None
    for _ in range(max_rounds):
        # large-star over the symmetrized edges: center u, m = min of the
        # closed neighborhood, attach strictly-larger neighbors to m
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        wu = Window.partitionBy("u")
        ls = sym.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
        e1 = (
            ls.where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the (u > v)-normalized edges: attach u and its
        # smaller neighbors to the neighborhood minimum
        ss = e1.withColumn("m", F.min("v").over(Window.partitionBy("u")))
        e2 = (
            ss.where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(ss.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # EXACT convergence: same cardinality and no edge outside the
        # previous set (both sets are distinct, so together that is set
        # equality) — a hash fingerprint could collide and silently stop
        # mid-contraction, returning wrong components
        n2 = e2.count()
        if prev_n == n2:
            new_edges = e2.join(e, ["u", "v"], "left_anti").limit(1).count()
            if new_edges == 0:
                e = e2
                break
        prev_n = n2
        e = e2
    else:
        raise RuntimeError(
            f"connected_components_star did not converge within {max_rounds} rounds"
        )
    # converged: edges form stars (u -> root v); roots map to themselves;
    # vertices with no surviving edge (self-loop-only input) are their own
    # component
    members = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    labeled = members.union(roots)
    isolated = all_vertices.join(
        labeled.select("id"), "id", "left_anti"
    ).withColumn("component", F.col("id"))
    return labeled.union(isolated)


def dedup_near(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Keep one representative (min id) per near-dup component: drops
    every document whose component label is a smaller id. Documents in no
    pair are kept untouched (left anti join against the non-representative
    set — the corpus is scanned once; only pair-involved ids shuffle)."""
    comp = connected_components(pairs, a_col=a_col, b_col=b_col)
    drop = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# line-level (boilerplate) dedup — the CCNet "remove duplicated
# paragraphs" step, at line granularity
# ---------------------------------------------------------------------------

def frequent_lines(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Lines (``\\n``-separated, non-empty) appearing in at least
    ``min_docs`` DISTINCT documents — the boilerplate inventory
    (headers, footers, license banners, navigation chrome) that
    corpus-level line dedup removes. Output: ``line, n_docs``.

    Scale shape: explode is map-side; the count aggregates with
    map-side partial combine on ``(line)`` after an in-doc
    ``array_distinct`` (one row per (doc, distinct line)), so the
    shuffle carries distinct (doc, line) pairs, never repeated lines;
    the output is heavy-hitters-sized by construction (a line needs
    ``min_docs`` independent documents to appear at all).

    North-rule context: engine-level addition (the reference validates
    single documents; reference scope src/lib.rs:114-118)."""
    lines = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.col(text_col), "\n"))
        ).alias("line"),
    ).where(F.col("line") != "")
    # count DISTINCT documents (the docstring's contract): a doc_id
    # appearing in several input rows (re-ingested snapshot) must not
    # count twice and push its unique lines over min_docs
    return (
        lines.groupBy("line")
        .agg(F.count_distinct(F.col(id_col)).cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= F.lit(min_docs))
    )


#: Collected-boilerplate guard: remove_frequent_lines collects the
#: frequent-line set to the driver for the map-only rewrite; a corpus
#: whose "boilerplate" exceeds this is mis-thresholded (raise min_docs),
#: not a bigger driver problem.
MAX_FREQUENT_LINES = 1_000_000


def remove_frequent_lines(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    frequent: "list[str] | None" = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Corpus-level line dedup: drop every line that appears in ≥
    ``min_docs`` documents, keeping each document's remaining lines in
    order. Output::

        <id_col>, text, n_lines, n_removed, *keep_cols

    Two phases: (1) :func:`frequent_lines` (one aggregation whose
    output is heavy-hitters-sized), collected to the driver under
    :data:`MAX_FREQUENT_LINES` and broadcast; (2) a map-only Arrow
    rewrite — split, drop members of the broadcast set, rejoin. The
    full corpus is touched exactly once per phase and never shuffled
    in phase 2 (empty lines are never removed — they carry document
    structure, and counting them would make every two multi-paragraph
    docs "share" a line). Pass ``frequent`` to skip phase 1 (e.g. a
    curated boilerplate list, or a count reused across snapshots)."""
    from typing import Iterator as _Iterator

    import pyarrow as pa
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    spark = df.sparkSession
    if frequent is None:
        rows = frequent_lines(
            df, text_col=text_col, id_col=id_col, min_docs=min_docs
        ).limit(MAX_FREQUENT_LINES + 1).collect()
        if len(rows) > MAX_FREQUENT_LINES:
            raise ValueError(
                f"more than {MAX_FREQUENT_LINES} frequent lines at "
                f"min_docs={min_docs}; raise the threshold"
            )
        frequent = [r["line"] for r in rows]
    bc = spark.sparkContext.broadcast(frozenset(frequent))

    pruned = df.select(id_col, text_col, *keep_cols)
    out_schema = StructType(
        [
            pruned.schema[id_col],
            StructField("text", StringType(), True),
            StructField("n_lines", IntegerType(), False),
            StructField("n_removed", IntegerType(), False),
            *[pruned.schema[c] for c in keep_cols],
        ]
    )

    def run(batches: "_Iterator[pa.RecordBatch]") -> "_Iterator[pa.RecordBatch]":
        drop = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            texts = batch.column(1).to_pylist()
            out_t, out_n, out_r = [], [], []
            for t in texts:
                if t is None:
                    out_t.append(None); out_n.append(0); out_r.append(0)
                    continue
                lines = t.split("\n")
                kept = [l for l in lines if l == "" or l not in drop]
                out_t.append("\n".join(kept))
                out_n.append(len(lines))
                out_r.append(len(lines) - len(kept))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(out_t, type=pa.string()),
                    pa.array(out_n, type=pa.int32()),
                    pa.array(out_r, type=pa.int32()),
                    *[batch.column(2 + j) for j in range(len(keep_cols))],
                ],
                names=[batch.schema.field(0).name, "text", "n_lines",
                       "n_removed", *keep_cols],
            )

    return pruned.mapInArrow(run, out_schema)


# ---------------------------------------------------------------------------
# span-level exact dedup measurement — the "deduplicating training data"
# repeated-substring signal (Lee et al. 2022; MassiveText's repeated
# 13-gram filter), between doc-level exact dedup and line-level
# boilerplate dedup in granularity
# ---------------------------------------------------------------------------

def duplicate_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 13,
    min_count: int = 2,
) -> DataFrame:
    """Per-document repeated-span profile: how much of each document
    consists of exact ``span_tokens``-word windows that occur at least
    ``min_count`` times ANYWHERE in the corpus (including repeats inside
    the same document)::

        <id_col>, n_spans, n_dup_spans, dup_span_frac

    The exact-substring-dedup signal: verbatim boilerplate, templated
    passages, and cross-document copy-paste that survive doc-level
    hashing (different documents) and line-level dedup (spans cross line
    boundaries). Callers filter ``dup_span_frac > bound`` or feed the
    fraction to the quality classifier; the operator measures.

    Scale shape: ONE explode of stride-1 word windows (the same
    :func:`shingles` expression the contamination family scans), folded
    immediately into a ``groupBy(id, span)`` count with map-side
    partial combine — after that no stage ever carries span *instances*
    again, only per-(doc, span) count rows. The corpus-wide occurrence
    count is a ``sum over Window.partitionBy(span)`` on those rows (no
    join back, no second scan of the explode; the per-span partitions
    are document counts, so even a boilerplate span in 10^6 documents
    is one reducer summing 10^6 small rows), and a final
    ``groupBy(id)`` reassembles the per-document profile. Three
    data-bearing exchanges total (plus an id-column-pruned second scan
    whose left join re-attaches documents with no span rows — NULL
    texts), nothing collected, no driver state. Reference scope:
    engine-level addition (the reference validates single documents,
    src/lib.rs:114-118).

    Documents shorter than ``span_tokens`` words collapse to their
    single token-join (the :func:`shingles` short-doc contract), so they
    participate as whole-document near-exact matches rather than
    vanishing; empty texts collapse to the single empty-string span and
    NULL texts to a single NULL span (``n_spans = 1`` each; the two
    never match each other, so a lone NULL or empty document reports
    zero duplication), and the id-pruned left join is belt-and-braces
    for any upstream that yields no span rows."""
    spans = df.select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), span_tokens)).alias("span"),
    )
    per = spans.groupBy(id_col, "span").agg(F.count(F.lit(1)).alias("__cd"))
    return _span_profile_from_counts(df, per, id_col, "span", min_count)


def _span_profile_from_counts(
    df: DataFrame,
    per: DataFrame,
    id_col: str,
    span_col: str,
    min_count: int,
) -> DataFrame:
    """Shared tail of the span-dedup twins: per-(doc, span) count rows →
    corpus-wide occurrence via a span-partition window (no join-back) →
    per-document profile, with an id-pruned left join re-attaching
    documents that produced no count rows."""
    glob = per.withColumn(
        "__c", F.sum("__cd").over(Window.partitionBy(span_col))
    )
    per_doc = (
        glob.groupBy(id_col)
        .agg(
            F.sum("__cd").alias("n_spans"),
            F.sum(
                F.when(F.col("__c") >= min_count, F.col("__cd")).otherwise(
                    F.lit(0)
                )
            ).alias("n_dup_spans"),
        )
        .select(
            id_col,
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans")
                / F.greatest(F.col("n_spans"), F.lit(1)).cast("double"),
                6,
            ).alias("dup_span_frac"),
        )
    )
    return df.select(id_col).join(per_doc, id_col, "left")


def duplicate_spans_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 13,
    min_count: int = 2,
) -> DataFrame:
    """Arrow twin of :func:`duplicate_spans` — identical output contract
    (``id, n_spans, n_dup_spans, dup_span_frac``; span equality decided
    by 64-bit fingerprint equality, a 2^-64-per-pair approximation), at
    the Arrow kernel rate instead of the HOF-interpreter floor.

    The JVM head materializes every stride-1 13-gram as a ~100-byte
    string through an interpreted ``array_join(slice(...))`` transform
    and ships the instances into ``groupBy(id, span)``; here
    :func:`jsl_engine.text_ops_arrow.span_hash_counts_arrow` folds each
    document's spans to (hash, multiplicity) pairs inside the map, so
    the first exchange already carries per-(doc, span) count rows keyed
    by an 8-byte hash — at 10^12 documents that is the difference
    between shuffling the corpus re-expanded ~13× and shuffling roughly
    one narrow row per distinct span per document. The tail (span-
    partition occurrence window → per-document profile → id-pruned
    re-attach join) is shared with the JVM variant
    (:func:`_span_profile_from_counts`); NULL/empty/short-document
    equivalence classes match the JVM path by construction (sentinel +
    clip contract pinned in tests)."""
    from jsl_engine.text_ops_arrow import span_hash_counts_arrow

    per = span_hash_counts_arrow(df, text_col, id_col, span_tokens)
    return _span_profile_from_counts(df, per, id_col, "span_h", min_count)


def incremental_near_dup_pairs(
    state_sigs: DataFrame,
    new_sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    bands: int = 16,
    num_hashes: int = 64,
    max_bucket: int = 64,
) -> DataFrame:
    """Near-dup pairs for an incremental dedup pass: LSH banding over
    the UNION of the retained-set signature store and the new batch's
    signatures, with retained-vs-retained pairs excluded **inside the
    join condition** — those were resolved when the store was built, so
    they must contribute zero join rows, not get filtered after
    materializing. Output::

        id_a, id_b, a_is_new, b_is_new, est_jaccard   (est >= threshold)

    Scale shape: the banding equi-join and the oversized-bucket
    boilerplate guard are identical to the self-join pipeline
    (:func:`lsh_candidate_pairs`); at 10^12 retained docs the store side
    dominates the join exactly as the corpus does there, and the
    at-least-one-new predicate prunes the quadratic retained×retained
    bulk before the shuffle output materializes."""
    # sig IS NOT NULL: the retained-state store carries signature-less
    # rows for NULL-text docs (exact-dup identity only) — banding a
    # NULL sig would hash every one into the same xxhash64(NULL)
    # buckets (xxhash64 of NULL is the seed hash, not NULL)
    su = state_sigs.select(id_col, "sig").where(F.col("sig").isNotNull())
    nu = new_sigs.select(id_col, "sig").where(F.col("sig").isNotNull())
    allsigs = su.unionByName(nu)
    # band each side separately so the is_new flag rides the banded rows
    # as a literal (map-side; no id-keyed rejoin to recover it)
    banded = (
        band_rows(su, id_col, bands, num_hashes).drop("sig")
        .withColumn("is_new", F.lit(False))
        .unionByName(
            band_rows(nu, id_col, bands, num_hashes).drop("sig")
            .withColumn("is_new", F.lit(True))
        )
    )
    w = Window.partitionBy("band", "bucket")
    pruned = (
        banded.withColumn("__bucket_n", F.count(F.lit(1)).over(w))
        .where(F.col("__bucket_n") <= max_bucket)
        .drop("__bucket_n")
    )
    a, b = pruned.alias("a"), pruned.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("a.is_new") | F.col("b.is_new")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.is_new").alias("a_is_new"),
            F.col("b.is_new").alias("b_is_new"),
        )
        .distinct()
    )
    sa = allsigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = allsigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", _sig_est_jaccard())
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "a_is_new", "b_is_new", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# recall evaluation (sample-scale truth oracle)
# ---------------------------------------------------------------------------

def exact_jaccard_pairs(
    df: DataFrame,
    *,
    threshold: float,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs: int = 100_000,
) -> DataFrame:
    """ALL pairs at exact word-``n``-gram Jaccard ≥ ``threshold`` via a
    distributed inverted index (``id_a, id_b, jaccard``) — the truth
    oracle the banded accelerators are measured against
    (:func:`lsh_recall_report`), in the engine itself rather than only
    in the DuckDB gate.

    Deliberately exact and therefore quadratic in the worst case (a
    gram shared by m docs contributes m² join rows): this is a
    SAMPLE-scale tool, guarded by ``max_docs`` (counted up front — one
    action; an eval utility may spend it). The production dedup path
    remains the banded generators + exact verify; this operator exists
    so their recall on the REAL corpus distribution is a measured
    number, not a formula trusted blind.

    Contract matches :func:`verified_jaccard_pairs` exactly (distinct
    shingles, NULL-text docs excluded — Jaccard over an undefined set
    is no pair, never a certified one), so found ⊆ truth holds by
    construction for any generator verified through that tail."""
    docs = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.array_distinct(shingles(F.col(text_col), n)).alias("sh"),
        )
    )
    n_docs = docs.count()
    if n_docs > max_docs:
        raise ValueError(
            f"exact_jaccard_pairs is the quadratic truth oracle for "
            f"SAMPLES: got {n_docs} docs > max_docs={max_docs}; sample "
            f"first (see lsh_recall_report) or raise max_docs knowingly"
        )
    sizes = docs.select(F.col(id_col), F.size("sh").alias("n_sh"))
    inv = docs.select(F.col(id_col), F.explode("sh").alias("gram"))
    a, b = inv.alias("a"), inv.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("__nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__inter").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("__inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def lsh_recall_report(
    df: DataFrame,
    *,
    threshold: float = 0.8,
    sample_docs: int = 2000,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    max_bucket: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Measure the MinHash-LSH configuration's recall and candidate
    precision ON THIS CORPUS against the exact truth, over a
    deterministic content-hash sample. One-row DataFrame::

        n_docs, true_pairs, candidate_pairs, verified_pairs,
        recall, candidate_precision

    ``recall`` = verified pairs / exact pairs at the threshold on the
    sample (the verify tail certifies only exact-Jaccard matches, so
    verified ⊆ truth and this IS the banding's pair recall);
    ``candidate_precision`` = verified / candidates (how much exact
    verification the banding forces downstream). Banding analysis gives
    the recall formula under uniform hashing — this report measures it
    under the corpus's actual similarity distribution, which is what a
    production run tunes (num_hashes, bands, threshold) against. The
    signatures are :func:`jsl_engine.text_ops_arrow.minhash_signatures_arrow`,
    the family ``jobs/dedup_job.py`` bands, so the report measures the
    job's own banding.

    The sample is the ``sample_docs`` lowest salted content hashes
    (engine-portable, stable under repartition/growth — the sampling
    module's contract), so successive tuning runs score the same
    sample."""
    from jsl_engine.sampling import SALT_RECALL_EVAL, order_hash
    from jsl_engine.text_ops_arrow import minhash_signatures_arrow

    pruned = df.select(id_col, text_col)
    sampled = (
        pruned.withColumn("__h", order_hash(id_col, SALT_RECALL_EVAL))
        .orderBy("__h", id_col)
        .limit(sample_docs)
        .drop("__h")
        .localCheckpoint()
    )
    truth = exact_jaccard_pairs(
        sampled, threshold=threshold, n=shingle_n,
        text_col=text_col, id_col=id_col, max_docs=sample_docs,
    )
    sigs = minhash_signatures_arrow(
        sampled, text_col, id_col, num_hashes, shingle_n
    )
    cands = lsh_candidate_pairs(
        sigs, id_col, bands, max_bucket=max_bucket, num_hashes=num_hashes
    )
    verified = verified_jaccard_pairs(
        sampled, cands, text_col, id_col, n=shingle_n, threshold=threshold
    )
    n_docs = sampled.count()
    n_true = truth.count()
    n_cand = cands.count()
    n_ver = verified.count()
    spark = df.sparkSession
    return spark.createDataFrame(
        [(
            n_docs, n_true, n_cand, n_ver,
            round(n_ver / n_true, 6) if n_true else None,
            round(n_ver / n_cand, 6) if n_cand else None,
        )],
        "n_docs long, true_pairs long, candidate_pairs long, "
        "verified_pairs long, recall double, candidate_precision double",
    )
