"""Deterministic sampling operators for training-data pipelines:
stratified per-class sampling and hash-based train/eval splits.

Spark's built-in ``df.sample``/``sampleBy`` are seed-based but
partition-layout-dependent (a repartition changes the sample), which
breaks reproducibility contracts at pipeline scale. These operators
derive every decision from *row content* (an arithmetic Knuth
multiplicative hash of the id — plain BIGINT math, so DuckDB/any engine
reproduces it bit-for-bit, making the queries fully oracle-checkable),
so the same input produces the same sample under any partitioning,
retry, or engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from jsl_engine.partitioning import topk_per_group

#: Knuth multiplicative constant (2^32 / phi, odd) — portable BIGINT math.
_KNUTH = 2654435761
#: Second-round multiplier (xxhash PRIME32_2, odd).
_KNUTH2 = 2246822519
#: Salt spreading stride (prime) — consecutive salts land far apart.
_SALT_STRIDE = 1_000_003
_MOD = 2**31

#: Per-purpose salts: every operator that buckets or orders by the id
#: hash uses its OWN salt, so their selections are statistically
#: independent. One shared hash made mixture_sample and hash_split
#: select the SAME permille bucket — a source down-sampled to rate R
#: kept exactly the ids whose bucket < 1000R, and with eval_permille=50
#: every kept doc of an R<=0.05 source landed in "eval", leaving the
#: train split empty for that source (round-4 review finding; the
#: independence is pinned by test_sampling_salts_are_independent).
SALT_STRATIFIED = 1
SALT_MIXTURE = 2
SALT_SPLIT = 3
SALT_SHUFFLE = 4  # shared by shuffle_export + pack_sequences (one layout)
SALT_TRAIN_SAMPLE = 5  # similarity.py train_permille quantizer sampling
SALT_DSIR_GUMBEL = 6  # dsir.py Gumbel-top-k resampling draw (per doc id)
SALT_DSIR_BUCKET = 7  # dsir.py feature-hash bucket mix (per gram hash)
SALT_RECALL_EVAL = 8  # text_ops.lsh_recall_report deterministic eval sample


def order_hash(id_col, salt: int = 0):
    """Deterministic pseudo-random ordering key from an integer id —
    identical arithmetic in every SQL engine (no engine-specific hash
    function)::

        x = id mod 2^31
        a = ((x + salt·1000003) · 2654435761) mod 2^31
        g = a XOR (a >> 15)
        h = (g · 2246822519) mod 2^31

    The xor-shift between the two multiplicative rounds is what makes
    distinct salts *independent*: affine maps with a shared multiplier
    differ only by a constant, so their buckets stay perfectly
    correlated at any granularity (measured: P(bucket₂<50 | bucket₁<50)
    = 0 for the affine-only form vs 0.0496 ≈ 5% here). Every
    intermediate stays below 2^31 before a multiply, so products stay
    below 2^62: no signed-64-bit overflow under ANSI for any BIGINT id.
    Ids are assumed NON-NEGATIVE (every generator in this engine emits
    row-number-derived ids): Spark's ``pmod`` and SQL ``%`` agree only
    there — a negative id would hash differently in the DuckDB oracle."""
    x = F.pmod(F.col(id_col), F.lit(_MOD))
    a = F.pmod((x + F.lit(salt * _SALT_STRIDE)) * F.lit(_KNUTH), F.lit(_MOD))
    g = a.bitwiseXOR(F.shiftright(a, 15))
    return F.pmod(g * F.lit(_KNUTH2), F.lit(_MOD))


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """At most ``n_per_stratum`` rows per stratum, chosen by the
    content-derived hash order (ties broken by id) — class-balanced
    subsampling for training mixes. Assumes ``id_col`` identifies a row
    within its stratum (every generator in this engine emits unique
    row-number-derived ids).

    Execution shape (the two-phase trim, made *deterministic*): the
    hash is computed JVM-side on a column-pruned ``(strata, id)``
    projection; :func:`jsl_engine.partitioning.topk_per_group` ranks it
    per stratum by (hash asc, id asc), its batch-local lossless cut
    shrinking the rank window's shuffle input to O(batches × strata × n)
    regardless of corpus size; and the ≤ strata × n winning ids
    broadcast back onto the full rows as a null-safe semi-join — the
    corpus itself is never shuffled. This supersedes the probabilistic
    count-aggregation trim (pre-filter ``order_hash < t`` sized ~2× the
    target): that trim can adversarially under-select (fewer than n
    survivors in a stratum whose ids happen to hash high), while the
    batch-local cut is bit-for-bit lossless by total order with no extra
    count pass. The winners are assumed driver-broadcastable
    (strata × n rows)."""
    strata_cols = list(strata_cols)
    narrow_cols = list(dict.fromkeys([*strata_cols, id_col]))
    narrow = df.select(*narrow_cols).withColumn(
        "__h", order_hash(id_col, SALT_STRATIFIED)
    )
    winners = topk_per_group(
        narrow, strata_cols, [("__h", "asc"), (id_col, "asc")],
        n_per_stratum, rank_col="__rk",
    ).select(*narrow_cols)
    left = df.alias("__ss_l")
    right = F.broadcast(winners).alias("__ss_r")
    # null-safe equality on EVERY key: a NULL-stratum winner must still
    # match its source rows, and a NULL-id row — which the reference
    # window ranks FIRST (NULLS FIRST hash order) — must survive the
    # join too (plain `=` never matches NULL; at most one NULL id can
    # exist under the unique-id precondition, so null-safe matching
    # cannot over-return)
    cond = left[id_col].eqNullSafe(right[id_col])
    for c in strata_cols:
        if c != id_col:
            cond = cond & left[c].eqNullSafe(right[c])
    return left.join(right, cond, "left_semi")


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Weighted dataset mixing: keep each row of source ``s`` with
    probability ``rates[s]`` (sources absent from ``rates`` fall back to
    ``default_rate``) — the training-mix step that up/down-samples
    sources to a target recipe. Selection is the id-hash permille bucket,
    so it is deterministic, partition-stable, and *nested*: raising a
    source's rate keeps every previously selected row (incremental recipe
    changes re-use earlier outputs). Pure filter — no shuffle, rates
    become a literal CASE, whole-stage codegen."""
    # integer permille thresholds: float(rate)*1000 carries binary-float
    # rounding (0.29*1000 = 290.000...6 would keep one extra bucket;
    # 0.57*1000 = 569.999...9 would drop one), so the keep-probability
    # contract and any integer-literal oracle SQL use int(round(...))
    frac = F.pmod(order_hash(id_col, SALT_MIXTURE), F.lit(1000))
    rate_expr = F.lit(int(round(float(default_rate) * 1000)))
    for src, rate in sorted(rates.items()):
        rate_expr = F.when(
            F.col(source_col) == F.lit(src), F.lit(int(round(float(rate) * 1000)))
        ).otherwise(rate_expr)
    return df.where(frac < rate_expr)


def shuffle_export(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Deterministic global shuffle for training export: every row gets a
    ``(bucket, pos)`` address — bucket from the id hash, position from
    the hash order within the bucket — defining a stable pseudo-random
    total order ``(bucket, pos)`` over the corpus::

        <input columns>, bucket, pos

    Training loaders want shuffled shards whose order does not depend on
    cluster layout; seed-based ``df.orderBy(rand())`` changes under
    repartitioning and retries, this does not.

    Scale shape: NO global sort — each of the ``n_buckets`` hash buckets
    sorts independently (window partitioned by bucket), so the largest
    sort is corpus/n_buckets and buckets write in parallel. The physical
    export is ``repartition(n_buckets, 'bucket') .sortWithinPartitions
    ('pos')`` over this frame — one shuffle, one local sort, shards land
    pre-shuffled."""
    h = order_hash(id_col, SALT_SHUFFLE)
    w = Window.partitionBy("bucket").orderBy(F.col("__h"), F.col(id_col))
    return (
        df.withColumn("__h", h)
        .withColumn("bucket", F.pmod(F.col("__h"), F.lit(n_buckets)).cast("int"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("__h")
    )


def pack_sequences(
    df: DataFrame,
    *,
    tokens_col: str,
    id_col: str = "doc_id",
    budget: int = 2048,
    n_buckets: int = 16,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in the
    deterministic shuffle order within hash buckets, token counts
    accumulate, and each document is assigned to the training sequence
    (``pack_id``) where its first token lands::

        <id_col>, bucket, start_offset, n_tokens, pack_id

    ``pack_id = floor(start_offset / budget)`` with ``start_offset`` the
    running token total before the document — exactly the "concatenate
    the stream, cut every ``budget`` tokens" packing LLM pipelines use
    (documents may straddle a cut; the assignment records where each
    begins). Fully deterministic: same corpus → same packs under any
    partitioning or engine, which makes the layout oracle-checkable and
    training runs reproducible.

    Scale shape: one window cumsum per hash bucket (no global sort, no
    driver state); buckets are independent training shards. Pathological
    token-count skew does not break the math — a doc longer than
    ``budget`` simply spans multiple cuts, as in the real pipeline."""
    h = order_hash(id_col, SALT_SHUFFLE)
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col("__h"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("__h", h)
        .withColumn("bucket", F.pmod(F.col("__h"), F.lit(n_buckets)).cast("int"))
        .withColumn(
            "start_offset",
            (F.sum(F.col(tokens_col)).over(w) - F.col(tokens_col)).cast("long"),
        )
        .select(
            F.col(id_col),
            "bucket",
            "start_offset",
            F.col(tokens_col).cast("long").alias("n_tokens"),
            F.floor(F.col("start_offset") / F.lit(budget)).cast("long").alias("pack_id"),
        )
    )


def hash_split(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    eval_permille: int = 50,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/eval assignment: rows whose id-hash falls in
    the lowest ``eval_permille``/1000 of the hash space become ``eval``,
    the rest ``train``. Stable under repartitioning, retries, incremental
    arrival (a document's split never changes as the corpus grows) —
    the property seed-based ``randomSplit`` cannot give. Pure projection:
    no shuffle, whole-stage codegen."""
    frac = F.pmod(order_hash(id_col, SALT_SPLIT), F.lit(1000))
    return df.withColumn(
        split_col,
        F.when(frac < F.lit(eval_permille), F.lit("eval")).otherwise(
            F.lit("train")
        ),
    )


def temperature_rates(
    df: DataFrame,
    *,
    temperature: float = 0.7,
    source_col: str = "source",
    max_rate: float = 1.0,
) -> dict[str, float]:
    """Per-source keep rates from temperature-scaled source sizes — the
    standard multilingual/multi-source re-balancing recipe: sampling
    probability ∝ ``n_s^temperature``, so ``temperature=1`` keeps natural
    proportions and ``temperature→0`` flattens toward uniform. Rates are
    normalized so the SMALLEST source's rate is ``max_rate`` (i.e. only
    down-sampling — this engine's mixture step is a filter, not a row
    replicator — so flattening means cutting the big sources down toward
    the small ones): ``rate_s = max_rate · (n_s / n_min)^(T−1)``, which
    is ≤ ``max_rate`` for every source when ``T ≤ 1``.

    One aggregation over the corpus (shuffle = #sources rows), then feed
    the dict straight into :func:`mixture_sample`::

        rates = temperature_rates(docs, temperature=0.7)
        mix = mixture_sample(docs, rates)

    Rates are rounded to the permille grid ``mixture_sample`` selects on,
    so the returned dict IS the realized contract (no hidden rounding)."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    counts = {
        r[0]: r[1]
        for r in df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n")).collect()
        if r[0] is not None
    }
    if not counts:
        return {}
    n_min = min(counts.values())
    out = {}
    for src, n in sorted(counts.items()):
        rate = max_rate * (n / n_min) ** (temperature - 1.0)
        rate = min(max_rate, rate)
        # permille floor: a computed rate below 0.0005 would ROUND to
        # 0.0 and silently eliminate the largest source from the mix —
        # under the recipe it should contribute the most absolute
        # documents of any source. One permille is the selection grid's
        # smallest representable nonzero rate.
        out[src] = max(0.001, round(min(1.0, rate) * 1000) / 1000.0)
    return out


def chunk_documents(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 32,
    keep_text: bool = False,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sliding-window document chunking for context-length prep (training
    sequence construction, RAG indexing): the whitespace token stream is
    cut into windows of ``chunk_tokens`` advancing by ``stride =
    chunk_tokens - overlap``, so consecutive chunks share ``overlap``
    tokens and every token is covered. Output, one row per chunk::

        <id_col>, chunk_id, n_chunks, pos, n_tokens, chunk_sha256
        [, chunk_text with keep_text=True] [, *keep_cols passed through]

    ``pos`` is the chunk's first token's 0-based offset in the document
    (``chunk_id * stride``); the last chunk may be shorter than
    ``chunk_tokens``. A document at or under one window yields exactly
    one chunk; NULL-text rows yield ZERO rows by contract (there is no
    token stream to window — upstream curation owns NULL handling, and
    an explicit contract beats a silent NULL-keyed chunk).

    Deterministic and engine-independent — ``chunk_sha256`` hashes the
    space-rejoined window, so chunk CONTENT (not just counts) is
    oracle-checkable.

    Scale shape: map-only — split, an integer-arithmetic chunk count,
    one bounded ``posexplode(sequence(...))`` fan-out, ``slice`` +
    ``sha2`` per chunk, all whole-stage codegen; no shuffle, no UDF, no
    driver state. The explode multiplies rows by ~n_tok/stride, the
    same growth the downstream training sink pays anyway."""
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})"
        )
    stride = chunk_tokens - overlap
    toks = F.split(
        F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "
    )
    base = (
        df.where(F.col(text_col).isNotNull())
        .withColumn("__toks", toks)
        .withColumn("__n", F.size("__toks"))
        .withColumn(
            "n_chunks",
            F.when(F.col("__n") <= chunk_tokens, F.lit(1))
            .otherwise(
                F.lit(1)
                + F.expr(f"(__n - {chunk_tokens} + {stride - 1}) div {stride}")
            )
            .cast("long"),
        )
    )
    chunk = F.slice(
        F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    out = (
        base.select(
            id_col,
            "__toks",
            "n_chunks",
            F.explode(F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int"))).alias(
                "chunk_id"
            ),
            *keep_cols,
        )
        .withColumn("__chunk", chunk)
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            "n_chunks",
            (F.col("chunk_id") * stride).cast("long").alias("pos"),
            F.size("__chunk").cast("long").alias("n_tokens"),
            F.sha2(F.array_join("__chunk", " "), 256).alias("chunk_sha256"),
            *([F.array_join("__chunk", " ").alias("chunk_text")] if keep_text else []),
            *keep_cols,
        )
    )
    return out
