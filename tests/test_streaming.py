"""Streaming validation test: file-source stream → kernel → memory sink,
results identical to the batch path over the same corpus."""

from jsl_engine.corpus import CODE_FILE_SCHEMA, generate_corpus
from jsl_engine.schema import compile_schema
from jsl_engine.spark_validate import validate_df
from jsl_engine.streaming import read_corpus_stream, validate_stream


def test_stream_matches_batch(spark, tmp_path):
    corpus_path = str(tmp_path / "corpus")
    generate_corpus(spark, 800, seed=21, defect_rate=0.1, partitions=4).write.parquet(
        corpus_path
    )
    schema = compile_schema(CODE_FILE_SCHEMA)

    stream = read_corpus_stream(spark, corpus_path, max_files_per_trigger=2)
    validated = validate_stream(stream, schema)
    q = (
        validated.writeStream.format("memory")
        .queryName("stream_verdicts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql(
        "SELECT repo, path, commit, ok, n_errors, content_sha256 "
        "FROM stream_verdicts"
    ).collect()
    want = (
        validate_df(spark.read.parquet(corpus_path), schema)
        .select("repo", "path", "commit", "ok", "n_errors", "content_sha256")
        .collect()
    )
    assert len(got) == len(want) == 800
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_streaming_verdict_counts(spark, tmp_path):
    """Update-mode stateful aggregation over the validated stream."""
    from jsl_engine.streaming import streaming_verdict_counts
    from pyspark.sql import functions as F

    corpus_path = str(tmp_path / "corpus2")
    generate_corpus(spark, 400, seed=23, defect_rate=0.2, partitions=2).write.parquet(
        corpus_path
    )
    schema = compile_schema(CODE_FILE_SCHEMA)
    stream = read_corpus_stream(spark, corpus_path, max_files_per_trigger=1)
    counts = streaming_verdict_counts(validate_stream(stream, schema), key="repo")
    q = (
        counts.writeStream.format("memory")
        .queryName("stream_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.repo: (r.n_docs, r.n_ok) for r in spark.sql("SELECT * FROM stream_counts").collect()}
    batch = validate_df(spark.read.parquet(corpus_path), schema)
    want = {
        r.repo: (r.n_docs, r.n_ok)
        for r in batch.groupBy("repo")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum(F.col("ok").cast("long")).alias("n_ok"))
        .collect()
    }
    assert got == want


def _with_ts(df, days: int = 5):
    """Deterministic event time spread over `days` from the commit hash."""
    from pyspark.sql import functions as F

    secs = F.pmod(F.xxhash64("commit", "path"), F.lit(days * 86400))
    return df.withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + secs)
    )


def test_windowed_verdict_counts_watermark(spark, tmp_path):
    """Event-time windowed aggregation with a watermark (append mode):
    every emitted window must exactly match the batch computation for that
    window, and the closed prefix (older than max event time - watermark)
    must be complete."""
    from pyspark.sql import functions as F
    from jsl_engine.streaming import validate_stream, windowed_verdict_counts

    corpus_path = str(tmp_path / "corpus_w")
    generate_corpus(spark, 500, seed=41, defect_rate=0.1, partitions=5).write.parquet(
        corpus_path
    )
    schema = compile_schema(CODE_FILE_SCHEMA)

    # one microbatch holding all files: the watermark then advances to
    # max event time - 12h and the no-data finalization batch emits every
    # closed window exactly once — no row is "late", so the closed prefix
    # must equal the batch computation bit-for-bit. (With files arriving
    # unordered across microbatches, rows behind the advancing watermark
    # are dropped as late — correct streaming semantics, but not a
    # deterministic fixture.)
    stream = _with_ts(read_corpus_stream(spark, corpus_path, max_files_per_trigger=100))
    validated = validate_stream(stream, schema, key_cols=("repo", "path", "commit", "ts"))
    counts = windowed_verdict_counts(
        validated, "ts", window_duration="6 hours", watermark="12 hours"
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("stream_windows")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.window_start: (r.n_docs, r.n_ok, r.n_violations)
        for r in spark.sql("SELECT * FROM stream_windows").collect()
    }

    import datetime

    batch = validate_df(
        _with_ts(spark.read.parquet(corpus_path)), schema,
        key_cols=("repo", "path", "commit", "ts"),
    )
    max_ts = batch.agg(F.max("ts")).first()[0]
    horizon = max_ts - datetime.timedelta(hours=12)
    want = {
        r.ws: (r.n_docs, r.n_ok, r.n_violations)
        for r in batch.groupBy(
            F.window("ts", "6 hours")["start"].alias("ws")
        ).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
            F.sum("n_errors").cast("long").alias("n_violations"),
        ).collect()
        if r.ws + datetime.timedelta(hours=6) <= horizon  # closed windows
    }
    assert want  # fixture really has closed windows
    assert got == want


def test_dedup_stream_watermarked(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates arriving within the
    watermark of the first copy are dropped; state is bounded."""
    from jsl_engine.streaming import dedup_stream_watermarked

    corpus_path = str(tmp_path / "corpus_dw")
    generate_corpus(spark, 600, seed=37, dup_rate=0.05, partitions=6).write.parquet(
        corpus_path
    )
    batch = _with_ts(spark.read.parquet(corpus_path))
    n_distinct = batch.select("content").distinct().count()
    assert n_distinct < batch.count()

    stream = _with_ts(read_corpus_stream(spark, corpus_path, max_files_per_trigger=1))
    q = (
        dedup_stream_watermarked(stream, "ts", watermark="10 days")
        .writeStream.format("memory")
        .queryName("stream_dedup_wm")
        .option("checkpointLocation", str(tmp_path / "ckpt_dw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT content_sha256 FROM stream_dedup_wm").collect()
    # duplicate rows are exact copies (same ts), and the watermark spans
    # the whole event range, so every duplicate is within-watermark
    assert len(out) == n_distinct
    assert len({r.content_sha256 for r in out}) == n_distinct


def test_dedup_stream(spark, tmp_path):
    """Stateful dedup across microbatches: duplicates planted in different
    files (hence different microbatches) are dropped exactly once."""
    from jsl_engine.streaming import dedup_stream

    corpus_path = str(tmp_path / "corpus3")
    # dup_rate plants exact copies of the predecessor row
    generate_corpus(spark, 600, seed=31, dup_rate=0.05, partitions=6).write.parquet(
        corpus_path
    )
    batch = spark.read.parquet(corpus_path)
    n_total = batch.count()
    n_distinct = batch.select("content").distinct().count()
    assert n_distinct < n_total  # duplicates really exist

    stream = read_corpus_stream(spark, corpus_path, max_files_per_trigger=1)
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("stream_dedup")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT content_sha256 FROM stream_dedup").collect()
    assert len(out) == n_distinct
    assert len({r.content_sha256 for r in out}) == n_distinct


def test_streaming_histogram_drift_accumulates(spark, tmp_path):
    """applyInPandasWithState custom operator: the per-key histogram state
    must accumulate across microbatches — the final chi2 equals a batch
    computation over ALL the data against the same baseline."""
    import numpy as np
    from pyspark.sql import functions as F
    from jsl_engine.streaming import streaming_histogram_drift

    corpus_path = str(tmp_path / "corpus_h")
    generate_corpus(spark, 600, seed=47, partitions=6).write.parquet(corpus_path)
    batch = spark.read.parquet(corpus_path).withColumn(
        "val", F.length("content").cast("double")
    )
    lo, hi, bins = 0.0, 400.0, 16

    # baseline: the lang='python' histogram (drift of others against it)
    base_rows = batch.where("lang = 'python'").select("val").collect()
    idx = np.clip(((np.array([r.val for r in base_rows]) - lo) / ((hi - lo) / bins)).astype(int), 0, bins - 1)
    baseline = {lang: np.bincount(idx, minlength=bins).tolist()
                for lang in ["python", "rust", "go", "java", "c", "js"]}

    stream = read_corpus_stream(spark, corpus_path, max_files_per_trigger=1).withColumn(
        "val", F.length("content").cast("double")
    )
    q = (
        streaming_histogram_drift(stream, "val", "lang",
                                  baseline=baseline, lo=lo, hi=hi, bins=bins)
        .writeStream.format("memory")
        .queryName("stream_hist")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_h"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode emits once per key per batch; n_total is monotone in
    # batch order, so the max-n_total row per key is the fully
    # accumulated state (collect order is not batch order)
    rows = spark.sql("SELECT * FROM stream_hist").collect()
    final = {}
    for r in rows:
        if r.key not in final or r.n_total > final[r.key][0]:
            final[r.key] = (r.n_total, r.chi2_vs_baseline)

    width = (hi - lo) / bins
    for lang in ["python", "rust"]:
        vals = np.array([r.val for r in batch.where(F.col("lang") == lang)
                         .select("val").collect()])
        counts = np.bincount(np.clip(((vals - lo) / width).astype(int), 0, bins - 1),
                             minlength=bins).astype(float)
        base = np.array(baseline[lang], dtype=float)
        expected = base / base.sum() * counts.sum()
        mask = expected > 0
        want_chi2 = float((((counts[mask] - expected[mask]) ** 2) / expected[mask]).sum())
        n, chi2 = final[lang]
        assert n == len(vals)
        assert abs(chi2 - want_chi2) < 1e-6, (lang, chi2, want_chi2)


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Exactly-once across a stop/restart: run the validated stream to an
    idempotent file sink with availableNow, STOP it, land new corpus
    files, then restart a fresh query over the SAME checkpoint + sink.
    The second run must process only the new files (no reprocessing, no
    loss): the sink ends up row-for-row equal to the batch path over the
    union — the RUNBOOK's resume claim, now pinned."""
    from pyspark.sql import functions as F

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt_restart")
    schema = compile_schema(CODE_FILE_SCHEMA)

    def run_once():
        stream = read_corpus_stream(spark, landing, max_files_per_trigger=2)
        q = (
            validate_stream(stream, schema)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    generate_corpus(spark, 300, seed=31, defect_rate=0.15, partitions=3).write.parquet(
        landing
    )
    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first == 300

    # new files land while the query is down; restart resumes from the
    # checkpoint and must pick up ONLY these
    generate_corpus(spark, 200, seed=37, defect_rate=0.3, partitions=2).write.mode(
        "append"
    ).parquet(landing)
    run_once()

    got = sorted(
        map(tuple, spark.read.parquet(out)
            .select("repo", "path", "commit", "ok", "n_errors", "content_sha256")
            .collect())
    )
    want = sorted(
        map(tuple, validate_df(spark.read.parquet(landing), schema)
            .select("repo", "path", "commit", "ok", "n_errors", "content_sha256")
            .collect())
    )
    assert len(got) == 500  # 300 + 200: nothing reprocessed, nothing lost
    assert got == want


def test_arrow_signature_kernels_compose_with_streams(spark, tmp_path):
    """The Arrow signature kernels are stateless per document, so they
    lift onto Structured Streaming unchanged — signature extraction over
    a file stream equals the batch kernel over the same corpus (the
    landing-zone pattern for continuous dedup-signature ingestion)."""
    from pyspark.sql import Row

    from jsl_engine.text_ops_arrow import minhash_signatures_arrow, simhash_arrow

    corpus = str(tmp_path / "sig_corpus")
    spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma {i} delta epsilon zeta " * 5)
         for i in range(200)]
    ).repartition(4).write.parquet(corpus)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(corpus)
    )
    q = (
        simhash_arrow(stream).writeStream.format("memory")
        .queryName("stream_simhash")
        .option("checkpointLocation", str(tmp_path / "ckpt_sig"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: r.simhash for r in spark.sql("SELECT * FROM stream_simhash").collect()}
    want = {r.doc_id: r.simhash
            for r in simhash_arrow(spark.read.parquet(corpus)).collect()}
    assert got == want and len(got) == 200

    # minhash signatures stream too (stateless mapInArrow)
    q2 = (
        minhash_signatures_arrow(stream).writeStream.format("memory")
        .queryName("stream_minhash")
        .option("checkpointLocation", str(tmp_path / "ckpt_sig2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.sql("SELECT count(*) FROM stream_minhash").first()[0] == 200


def test_near_dup_stream_matches_batch(spark, tmp_path):
    """Streaming near-dup over a file stream finds exactly the batch
    pipeline's pairs (same Arrow signatures, same banding, same estimated
    Jaccard verify) when buckets stay under the cap — incremental dedup
    without reprocessing history. Runs as TWO availableNow queries over a
    shared checkpoint with new files in between: pairs spanning the two
    arrivals prove the state store carries signatures across restarts."""
    from pyspark.sql import Row

    from jsl_engine.streaming import near_dup_stream
    from jsl_engine.text_ops_arrow import minhash_near_duplicates_arrow

    def doc(i, variant=0):
        words = " ".join(f"tok{(i * 7 + j) % 19}x{j}" for j in range(80))
        return words if variant == 0 else words.replace("tok", "CHANGED", 1) + " tail"

    # batch A: 30 base docs; batch B: 30 near-dup variants (pair i <-> 100+i).
    # One NULL doc in each arrival: NULL docs emit no signature (kernel
    # pin), so neither surface may pair them — without the pin their
    # sentinel signatures collide in every band and the STREAM (which has
    # no exact-verify tail) would emit a false est_jaccard=1.0 pair.
    a_rows = [Row(doc_id=i, text=doc(i)) for i in range(30)]
    a_rows.append(Row(doc_id=900, text=None))
    b_rows = [Row(doc_id=100 + i, text=doc(i, variant=1)) for i in range(30)]
    b_rows.append(Row(doc_id=901, text=None))
    landing = str(tmp_path / "nd_landing")
    out_dir = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "nd_ckpt")

    def run_once():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 2)
            .parquet(landing)
        )
        q = (
            near_dup_stream(stream, threshold=0.5)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    spark.createDataFrame(a_rows).repartition(3).write.parquet(landing)
    run_once()
    spark.createDataFrame(b_rows).repartition(3).write.mode("append").parquet(landing)
    run_once()

    got = {(r.id_a, r.id_b)
           for r in spark.read.parquet(out_dir).select("id_a", "id_b").distinct().collect()}
    batch_df = spark.createDataFrame(a_rows + b_rows)
    want = {(r.id_a, r.id_b)
            for r in minhash_near_duplicates_arrow(batch_df, threshold=0.5).collect()}
    assert want, "fixture must plant real near-dups"
    assert got == want
    assert not {900, 901} & {v for p in got for v in p}


def test_near_dup_stream_bucket_saturation(spark, tmp_path):
    """A boilerplate bucket larger than max_bucket saturates: state stays
    bounded and the bucket stops emitting — the streaming analogue of the
    batch oversized-bucket guard (pairs from before saturation stand)."""
    from pyspark.sql import Row

    from jsl_engine.streaming import near_dup_stream

    boiler = "This file is auto-generated do not edit. " * 8
    rows = [Row(doc_id=i, text=boiler) for i in range(40)]
    landing = str(tmp_path / "sat_landing")
    spark.createDataFrame(rows).repartition(2).write.parquet(landing)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .parquet(landing)
    )
    q = (
        near_dup_stream(stream, threshold=0.5, max_bucket=5)
        .writeStream.format("memory")
        .queryName("sat_pairs")
        .option("checkpointLocation", str(tmp_path / "sat_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT COUNT(DISTINCT id_a, id_b) FROM sat_pairs").first()[0]
    # unbounded, 40 identical docs would emit 40*39/2 = 780 pairs; each of
    # the 16 band buckets independently emits at most C(max_bucket, 2)
    # (which 5 docs occupy a saturating bucket is arrival-order dependent,
    # so the sound bound is per-band, not global)
    assert 0 < n <= 16 * (5 * 4 // 2)


def test_redaction_composes_with_streams(spark, tmp_path):
    """secret_scan/redact_secrets are map-only JVM expressions, so they
    run unchanged on a file-source stream: streaming results == batch
    results over the same corpus (no watermark or state needed)."""
    from pyspark.sql import Row

    from jsl_engine.redaction import redact_secrets, secret_scan

    src = str(tmp_path / "red_src")
    rows = [
        Row(doc_id=i,
            text=f"doc {i} " + ("mail admin@example.com at 10.0.0.1 "
                                if i % 3 == 0 else "clean text here "))
        for i in range(60)
    ]
    spark.createDataFrame(rows).repartition(4).write.parquet(src)

    batch_df = spark.read.parquet(src)
    stream_df = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )

    q = (
        secret_scan(stream_df)
        .writeStream.format("memory")
        .queryName("stream_scan")
        .option("checkpointLocation", str(tmp_path / "red_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM stream_scan").collect()
    want = secret_scan(batch_df).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert sum(r.has_secret for r in got) == 20

    q2 = (
        redact_secrets(stream_df)
        .writeStream.format("memory")
        .queryName("stream_redact")
        .option("checkpointLocation", str(tmp_path / "red_ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got2 = spark.sql("SELECT * FROM stream_redact").collect()
    want2 = redact_secrets(batch_df).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, want2))
    assert all("admin@example.com" not in r.redacted for r in got2)


def test_session_stats_stream_matches_batch(spark, tmp_path):
    """Native session_window streaming sessionization produces the same
    per-session (user, n_events, duration) multiset as the batch
    lag/cumsum operator, with watermark-bounded state."""
    from datetime import datetime, timedelta

    from pyspark.sql import Row

    from jsl_engine.sessions import session_stats
    from jsl_engine.streaming import session_stats_stream

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(event_id=i, user_id=i % 7,
            ts=t0 + timedelta(minutes=(i * 13) % 360, seconds=i % 50))
        for i in range(400)
    ]
    src = str(tmp_path / "sess_src")
    spark.createDataFrame(rows).repartition(4).write.parquet(src)

    batch_df = spark.read.parquet(src)
    stream_df = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        session_stats_stream(stream_df, gap_minutes=10, watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        (r.user_id, r.n_events, r.duration_secs)
        for r in spark.sql(
            "SELECT user_id, n_events, duration_secs FROM sess_stream"
        ).collect()
    )
    want = sorted(
        (r.user_id, r.n_events, r.duration_secs)
        for r in session_stats(batch_df, gap_minutes=10).collect()
    )
    assert got == want and len(got) > 20


def test_contamination_arrow_composes_with_streams(spark, tmp_path):
    """The Arrow contamination kernel is a pure map pass (benchmark gram
    hashes broadcast at plan time), so it runs unchanged over a
    file-source stream: streaming results == batch results."""
    from pyspark.sql import Row

    from jsl_engine.text_ops_arrow import contamination_arrow

    src = str(tmp_path / "cont_src")
    leak = "the secret eval sentence nobody should train on"
    rows = [
        Row(doc_id=i,
            text=(f"doc {i} " + (leak if i % 5 == 0 else "clean words here")))
        for i in range(60)
    ]
    spark.createDataFrame(rows).repartition(4).write.parquet(src)
    bench = spark.createDataFrame([Row(doc_id=999, text=leak)])

    batch_df = spark.read.parquet(src)
    stream_df = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        contamination_arrow(stream_df, bench, n=3)
        .writeStream.format("memory")
        .queryName("cont_stream")
        .option("checkpointLocation", str(tmp_path / "cont_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM cont_stream").collect()))
    want = sorted(map(tuple, contamination_arrow(batch_df, bench, n=3).collect()))
    assert got == want
    assert sum(1 for r in got if r[-1]) == 12  # every 5th doc leaks


def test_near_dup_stream_replay_idempotent(spark, tmp_path):
    """At-least-once re-delivery of already-stored doc_ids must be a
    no-op: no duplicate signature copies, no re-emitted pairs, and —
    critically — no max_bucket budget burn (a replay that counted toward
    saturation would lock genuinely new documents out of the bucket)."""
    from pyspark.sql import Row

    from jsl_engine.streaming import near_dup_stream

    text = "replay idempotence fixture token " * 20
    landing = str(tmp_path / "rp_landing")
    out_dir = str(tmp_path / "rp_out")
    ckpt = str(tmp_path / "rp_ckpt")

    def run_once():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .parquet(landing)
        )
        q = (
            near_dup_stream(stream, threshold=0.5, max_bucket=5)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def land(rows):
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(landing)

    land([Row(doc_id=i, text=text) for i in range(3)])
    run_once()
    # upstream re-delivery: the SAME three docs arrive again as new files
    land([Row(doc_id=i, text=text) for i in range(3)])
    run_once()
    # two genuinely new members of the same bucket — they fit under
    # max_bucket=5 only if the replay did not burn saturation budget
    land([Row(doc_id=i, text=text) for i in (3, 4)])
    run_once()

    pairs = [(r.id_a, r.id_b)
             for r in spark.read.parquet(out_dir).select("id_a", "id_b").collect()]
    import itertools
    want = set(itertools.combinations(range(5), 2))
    assert set(pairs) == want
    # identical docs share all 16 band buckets -> each unordered pair is
    # emitted once per band, and exactly once per (band, pair) despite the
    # replay
    assert len(pairs) == len(want) * 16


def test_fused_curation_composes_with_streams(spark, tmp_path):
    """The fused validation+curation pass is action-free map-only plan
    construction (scorer projections + one mapInArrow), so it runs
    unchanged over a file-source stream: incremental validation of a
    landing zone gets quality/lang_id/n_secrets/license on the same
    single pass. Stream results == batch results (violations dropped:
    memory-sink flattening of the nested array is not the contract
    under test — jsl_violations covers it)."""
    from pyspark.sql import Row

    from jsl_engine.schema import compile_schema

    src = str(tmp_path / "fc_src")
    rows = [
        Row(doc_id=i,
            text=("good text with words here " * 6
                  + ("password hint admin@example.com " if i % 4 == 0 else "")),
            content='{"k": %d}' % i if i % 3 else '{"k": -1}')
        for i in range(48)
    ]
    spark.createDataFrame(rows).repartition(4).write.parquet(src)

    batch_df = spark.read.parquet(src)
    schema = compile_schema({"properties": {"k": {"type": "uint32"}}})
    stream_df = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        validate_df(stream_df, schema, key_cols=("doc_id",), curate=True)
        .drop("violations")
        .writeStream.format("memory")
        .queryName("fused_stream")
        .option("checkpointLocation", str(tmp_path / "fc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM fused_stream").collect()
    want = validate_df(
        batch_df, schema, key_cols=("doc_id",), curate=True
    ).drop("violations").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert sum(1 for r in got if r.n_secrets > 0) == 12
    assert sum(1 for r in got if not r.ok) == 16


def test_line_dedup_composes_with_streams(spark, tmp_path):
    """remove_frequent_lines with a supplied boilerplate list is a pure
    map pass (the set broadcasts at plan time), so it runs unchanged
    over a file-source stream: streaming results == batch results. (The
    counting phase is a batch aggregation by design — boilerplate
    inventories come from a snapshot, not the stream.)"""
    from pyspark.sql import Row

    from jsl_engine.text_ops import remove_frequent_lines

    banner = "generated header - do not edit"
    src = str(tmp_path / "ld_src")
    rows = [
        Row(doc_id=i, text=(f"{banner}\nbody line {i}\nmore {i}"
                            if i % 2 == 0 else f"body line {i}"))
        for i in range(40)
    ]
    spark.createDataFrame(rows).repartition(4).write.parquet(src)
    batch_df = spark.read.parquet(src)
    stream_df = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        remove_frequent_lines(stream_df, frequent=[banner])
        .writeStream.format("memory")
        .queryName("ld_stream")
        .option("checkpointLocation", str(tmp_path / "ld_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM ld_stream").collect()))
    want = sorted(map(tuple,
                      remove_frequent_lines(batch_df, frequent=[banner]).collect()))
    assert got == want
    assert sum(1 for r in got if r[3] == 1) == 20  # every even doc lost the banner


def test_chunking_composes_with_streams(spark, tmp_path):
    """chunk_documents is a pure map pass (split + bounded explode +
    slice/sha2 — no aggregation, no window), so it runs unchanged over a
    file-source stream: streaming chunks == batch chunks, including the
    sliding-window overlap, across multi-file triggers."""
    from pyspark.sql import Row

    from jsl_engine.sampling import chunk_documents

    src = str(tmp_path / "ck_src")
    rows = [
        Row(doc_id=i, text=" ".join(f"d{i}w{j}" for j in range(10 + 7 * i)))
        for i in range(24)
    ]
    spark.createDataFrame(rows).repartition(4).write.parquet(src)
    batch_df = spark.read.parquet(src)
    q = (
        chunk_documents(
            spark.readStream.schema(batch_df.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src),
            chunk_tokens=16,
            overlap=4,
            keep_text=True,
        )
        .writeStream.format("memory")
        .queryName("ck_stream")
        .option("checkpointLocation", str(tmp_path / "ck_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM ck_stream").collect()))
    want = sorted(map(tuple, chunk_documents(
        batch_df, chunk_tokens=16, overlap=4, keep_text=True
    ).collect()))
    assert got == want
    assert len(got) > len(rows)  # the longer docs actually slid


def test_bpe_encode_composes_with_streams(spark, tmp_path):
    """bpe_encode is a map-only Arrow kernel with broadcast ranks (the
    per-batch word memo is batch-local, not cross-batch state), so it
    runs unchanged over a file-source stream: streaming token counts ==
    batch token counts across multi-file triggers."""
    from pyspark.sql import Row

    from jsl_engine.bpe import bpe_encode, train_bpe

    src = str(tmp_path / "bpe_src")
    rows = [Row(doc_id=i, text="the cat sat on the mat " * (1 + i % 3))
            for i in range(20)]
    spark.createDataFrame(rows).repartition(4).write.parquet(src)
    batch_df = spark.read.parquet(src)
    merges = train_bpe(batch_df, n_merges=10)
    q = (
        bpe_encode(
            spark.readStream.schema(batch_df.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src),
            merges,
        )
        .writeStream.format("memory")
        .queryName("bpe_stream")
        .option("checkpointLocation", str(tmp_path / "bpe_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM bpe_stream").collect()))
    want = sorted(map(tuple, bpe_encode(batch_df, merges).collect()))
    assert got == want and len(got) == 20


def test_embedding_near_dup_stream_matches_batch(spark, tmp_path):
    """Streaming embedding near-dup (banded SRP + exact cosine in state)
    finds exactly the batch pipeline's pairs while buckets stay under the
    cap — TWO availableNow queries over a shared checkpoint, with the
    second arrival containing clones of first-arrival vectors, prove
    state carries vectors across restarts. Degenerate rows (NULL
    embedding, NULL component, NaN component, Inf component, zero norm)
    ride along and must pair with nothing on either surface — the
    zero-norm/Inf rows also must not consume stream state slots."""
    import numpy as np
    from pyspark.sql import Row

    from jsl_engine.similarity import embedding_near_duplicates
    from jsl_engine.streaming import embedding_near_dup_stream

    rng = np.random.default_rng(23)
    base = rng.normal(size=(30, 16))
    kw = dict(threshold=0.97, n_planes=6, n_bands=4, seed=11, dim=16)

    def row(i, v):
        return Row(vec_id=i, embedding=[float(x) for x in v])

    a_rows = [row(i, base[i]) for i in range(30)]
    a_rows.append(Row(vec_id=900, embedding=None))
    b_rows = [row(100 + i, base[i] + rng.normal(scale=0.01, size=16))
              for i in range(30)]
    b_rows.append(Row(vec_id=901,
                      embedding=[None] + [1.0] * 15))
    b_rows.append(Row(vec_id=902,
                      embedding=[float("nan")] + [1.0] * 15))
    b_rows.append(Row(vec_id=903,
                      embedding=[float("inf")] + [1.0] * 15))
    b_rows.append(Row(vec_id=904, embedding=[0.0] * 16))
    landing = str(tmp_path / "end_landing")
    out_dir = str(tmp_path / "end_out")
    ckpt = str(tmp_path / "end_ckpt")
    schema = "vec_id bigint, embedding array<double>"

    def run_once():
        q = (
            embedding_near_dup_stream(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 2)
                .parquet(landing),
                **kw,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    spark.createDataFrame(a_rows, schema).repartition(3).write.parquet(landing)
    run_once()
    spark.createDataFrame(b_rows, schema).repartition(3).write.mode(
        "append"
    ).parquet(landing)
    run_once()

    got = {(r.id_a, r.id_b): r.cos_sim
           for r in spark.read.parquet(out_dir)
           .select("id_a", "id_b", "cos_sim").distinct().collect()}
    batch = {(r.id_a, r.id_b): r.cos_sim
             for r in embedding_near_duplicates(
                 spark.createDataFrame(a_rows + b_rows, schema), **kw
             ).collect()}
    assert batch, "fixture must plant real near-dups"
    assert got == batch  # pair set AND exact rounded scores
    assert not {900, 901, 902, 903, 904} & {v for p in got for v in p}


def test_media_stream_near_dup_composition(spark, tmp_path):
    """Continuous MULTIMODAL dedup over a media landing zone: streaming
    media rows → extract_features (mapInPandas runs on streams) →
    embedding_near_dup_stream over the decoded image features. A PNG
    re-encode twin arriving in a LATER micro-batch pairs with its
    first-batch original (state carries the features), the pair set
    equals the batch image_near_duplicates contract, and stub-featured
    (undecodable) rows never pair."""
    import numpy as np
    from pyspark.sql import Row, functions as F

    from jsl_engine import multimodal as M
    from jsl_engine.streaming import embedding_near_dup_stream

    rng = np.random.default_rng(33)
    imgs = [rng.integers(0, 256, (24, 18, 3), np.uint8) for _ in range(6)]

    def media_row(mid, blob):
        return Row(media_id=mid, kind="image", mime="x", width=18,
                   height=24, duration_ms=None, n_bytes=len(blob),
                   payload=bytearray(blob))

    batch_a = [media_row(i, M.encode_netpbm(imgs[i])) for i in range(6)]
    batch_a.append(media_row(50, b"undecodable-blob"))
    # later arrivals: re-encode twins of 0..2 in other containers
    batch_b = [
        media_row(100, M.encode_png(imgs[0])),
        media_row(101, M.encode_bmp(imgs[1])),
        media_row(102, M.encode_tiff(imgs[2])),
        media_row(103, b"another-undecodable"),
    ]
    landing = str(tmp_path / "media_landing")
    out_dir = str(tmp_path / "media_out")
    ckpt = str(tmp_path / "media_ckpt")

    def pipeline(df):
        feats = M.extract_features(df, dim=16)
        return embedding_near_dup_stream(
            feats.where(F.col("decoded") & (F.col("kind") == "image"))
            .select(F.col("media_id").alias("vec_id"),
                    F.col("feature").cast("array<double>")
                    .alias("embedding")),
            threshold=0.97, n_planes=6, n_bands=4, seed=11, dim=16,
        )

    def run_once():
        q = (
            pipeline(spark.readStream.schema(M.MEDIA_SCHEMA)
                     .option("maxFilesPerTrigger", 2).parquet(landing))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    media_a = spark.createDataFrame(batch_a, M.MEDIA_SCHEMA)
    media_a.repartition(2).write.parquet(landing)
    run_once()
    media_b = spark.createDataFrame(batch_b, M.MEDIA_SCHEMA)
    media_b.repartition(2).write.mode("append").parquet(landing)
    run_once()

    got = {(r.id_a, r.id_b) for r in spark.read.parquet(out_dir)
           .select("id_a", "id_b").distinct().collect()}
    assert got == {(0, 100), (1, 101), (2, 102)}
    # batch contract over the full table agrees
    batch_pairs = {(r.id_a, r.id_b) for r in M.image_near_duplicates(
        media_a.unionByName(media_b), threshold=0.97, n_planes=6,
        n_bands=4, seed=11, return_pairs=True).collect()}
    assert got == batch_pairs
    assert not {50, 103} & {v for p in got for v in p}
