"""Manifest / resume tests: first run commits all partitions; a rerun is a
no-op; a partial manifest resumes only pending partitions; a schema change
invalidates prior commits; outputs are idempotent."""

import pytest
from pyspark.sql import functions as F

from jsl_engine.corpus import CODE_FILE_SCHEMA, generate_corpus
from jsl_engine.manifest import (
    committed_partitions,
    read_manifest,
    run_validation_job,
)
from jsl_engine.schema import compile_schema


@pytest.fixture()
def corpus(spark):
    return generate_corpus(spark, 1200, seed=11, defect_rate=0.1, partitions=4)


def test_full_run_then_noop(spark, corpus, tmp_path):
    schema = compile_schema(CODE_FILE_SCHEMA)
    root = str(tmp_path / "out")

    r1 = run_validation_job(spark, corpus, schema, output_root=root)
    assert r1["partitions_pending"] > 0
    assert r1["docs"] == 1200

    verdicts = spark.read.parquet(f"{root}/validated")
    assert verdicts.count() == 1200
    m = read_manifest(spark, f"{root}/manifest")
    assert m.count() == r1["partitions_pending"]
    # manifest metrics reconcile with the data
    agg = m.agg(F.sum("n_docs"), F.sum("n_ok")).first()
    assert agg[0] == 1200
    assert agg[1] == verdicts.where("ok").count()

    # second run: everything committed → no-op
    r2 = run_validation_job(spark, corpus, schema, output_root=root)
    assert r2["partitions_pending"] == 0
    assert r2["partitions_committed"] == r1["partitions_pending"]
    assert spark.read.parquet(f"{root}/validated").count() == 1200


def test_resume_from_partial_manifest(spark, corpus, tmp_path):
    schema = compile_schema(CODE_FILE_SCHEMA)
    root = str(tmp_path / "out")

    # simulate a crashed run: process only repos with prefix part_key='re'
    # is everything (repo-*), so use a finer prefix to split work
    r_full = run_validation_job(
        spark, corpus, schema, output_root=str(tmp_path / "ref"), part_prefix_len=4
    )
    assert r_full["partitions_pending"] > 1

    # first run limited to a subset of partitions (simulate partial commit
    # by pre-seeding the manifest from a run over a filtered source)
    subset = corpus.where(F.substring("repo", 4, 1).isin("0", "1", "2"))
    r1 = run_validation_job(
        spark, subset, schema, output_root=root, part_prefix_len=4
    )
    committed_before = committed_partitions(
        spark, f"{root}/manifest", r1["fingerprint"]
    ).count()
    assert committed_before == r1["partitions_pending"]

    # resume over the full source: only the remaining partitions run
    r2 = run_validation_job(spark, corpus, schema, output_root=root, part_prefix_len=4)
    assert r2["partitions_pending"] == r_full["partitions_pending"] - committed_before
    assert spark.read.parquet(f"{root}/validated").count() == 1200

    # third run: nothing pending
    r3 = run_validation_job(spark, corpus, schema, output_root=root, part_prefix_len=4)
    assert r3["partitions_pending"] == 0


def test_schema_change_invalidates(spark, corpus, tmp_path):
    root = str(tmp_path / "out")
    s1 = compile_schema(CODE_FILE_SCHEMA)
    run_validation_job(spark, corpus, s1, output_root=root)

    s2 = compile_schema({"properties": {"name": {"type": "string"}}})
    r = run_validation_job(spark, corpus, s2, output_root=root)
    # different fingerprint → all partitions pending again
    assert r["partitions_pending"] > 0
    m = read_manifest(spark, f"{root}/manifest")
    assert m.select("schema_fingerprint").distinct().count() == 2


def test_rerun_idempotent_outputs(spark, corpus, tmp_path):
    """Dynamic partition overwrite: re-processing a partition replaces its
    files instead of duplicating rows."""
    schema = compile_schema(CODE_FILE_SCHEMA)
    root = str(tmp_path / "out")
    run_validation_job(spark, corpus, schema, output_root=root)
    before = spark.read.parquet(f"{root}/validated").count()

    # wipe the manifest (lost commit log) and rerun: partitions re-process,
    # outputs must not double
    import shutil

    shutil.rmtree(f"{root}/manifest")
    run_validation_job(spark, corpus, schema, output_root=root)
    after = spark.read.parquet(f"{root}/validated").count()
    assert before == after == 1200


def test_manifest_hll_global_distinct(spark, corpus, tmp_path):
    """The manifest's per-partition content sketches union to a global
    distinct-document estimate without rescanning data, and survive
    resume (second no-op run leaves the estimate unchanged)."""
    from jsl_engine.manifest import global_distinct_docs

    root = str(tmp_path / "out_hll")
    schema = compile_schema(CODE_FILE_SCHEMA)
    r1 = run_validation_job(spark, corpus, schema, output_root=root)
    est = global_distinct_docs(spark, f"{root}/manifest")
    exact = corpus.select("content").distinct().count()
    assert est is not None and abs(est - exact) / exact < 0.05, (est, exact)

    run_validation_job(spark, corpus, schema, output_root=root)  # no-op resume
    assert global_distinct_docs(spark, f"{root}/manifest") == est


def test_manifest_commits_only_after_derived_outputs(spark, corpus, tmp_path, monkeypatch):
    """If the violations write fails, NO manifest row may be committed —
    otherwise a resumed run would skip the partition and the violations
    dataset would silently lack its rows forever (the commit-ordering
    invariant of run_validation_job)."""
    import jsl_engine.manifest as M

    def boom(*a, **k):
        raise RuntimeError("simulated violations-write failure")

    monkeypatch.setattr(M, "violations", boom)
    root = str(tmp_path / "out_crash")
    schema = compile_schema(CODE_FILE_SCHEMA)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated"):
        run_validation_job(spark, corpus, schema, output_root=root)
    assert M.read_manifest(spark, f"{root}/manifest").count() == 0

    monkeypatch.undo()
    r = run_validation_job(spark, corpus, schema, output_root=root)
    assert r["docs"] == 1200  # resume re-processes everything


def test_incremental_validate_equals_full(spark):
    """Document-level incremental validation: verdicts merged from
    (prior minus changed/removed) + (fresh over added/changed) must
    equal a from-scratch validation of the new snapshot — and the
    kernel must only have run over the churn set."""
    from pyspark.sql import functions as F

    from jobs.incremental_job import incremental_validate
    from jsl_engine.corpus import CODE_FILE_SCHEMA, generate_corpus
    from jsl_engine.schema import compile_schema
    from jsl_engine.spark_validate import validate_df

    schema = compile_schema(CODE_FILE_SCHEMA)
    old = generate_corpus(spark, 600, seed=17, defect_rate=0.1,
                          partitions=4).localCheckpoint()
    # churn: rewrite ~1/7 of docs (some defective), drop ~1/11, add new
    rewritten = old.withColumn(
        "content",
        F.when(F.xxhash64("repo", "path", "commit") % 7 == 0,
               F.concat(F.col("content"), F.lit(" "))).otherwise(F.col("content")),
    )
    kept = rewritten.where(F.xxhash64("path") % 11 != 0)
    added = generate_corpus(spark, 80, seed=99, defect_rate=0.3, partitions=2)
    new = kept.unionByName(added).localCheckpoint()

    base = validate_df(old, schema).localCheckpoint()
    merged, diff = incremental_validate(base, old, new, schema)

    cols = ["repo", "path", "commit", "ok", "n_errors", "error", "content_sha256"]
    got = sorted(map(tuple, merged.select(*cols).collect()))
    want = sorted(map(tuple, validate_df(new, schema).select(*cols).collect()))
    assert got == want and len(got) == new.count()

    # the diff covers exactly the churn: removed ∪ changed ∪ added
    kinds = {r.change_type for r in diff.collect()}
    assert kinds == {"added", "removed", "changed"}
    n_changed = diff.where("change_type = 'changed'").count()
    n_added = diff.where("change_type = 'added'").count()
    assert n_changed > 0 and n_added == 80


def test_registry_job_manifest_and_resume(spark, tmp_path):
    """Schema-registry job: the validated sink carries schema_key, the
    manifest holds one summary row per partition (registry fingerprint —
    the resume key) plus per-route detail rows carrying each route
    schema's own fingerprint; a rerun resumes to zero pending; and a
    later single-schema run over the same manifest must NOT mistake the
    registry run's partitions for its own commits."""
    from jsl_engine.manifest import registry_fingerprint

    source = generate_corpus(spark, 900, seed=17, defect_rate=0.1, partitions=4)
    full = compile_schema(CODE_FILE_SCHEMA)
    lax = compile_schema({})
    registry = {"python": full, "rust": full, "go": full, "java": lax, "c": lax}
    out = str(tmp_path / "reg")

    s1 = run_validation_job(
        spark, source, None, output_root=out,
        schemas=registry, route_col="lang", default_schema=full,
    )
    assert s1["docs"] == 900
    # job fingerprint = registry fingerprint + the job-config suffix
    assert s1["fingerprint"].startswith(registry_fingerprint(registry, full))

    validated = spark.read.parquet(f"{out}/validated")
    assert "schema_key" in validated.columns
    langs = {r.schema_key for r in validated.select("schema_key").distinct().collect()}
    assert langs == {"python", "rust", "go", "java", "c", "js"}
    # lax routes accept everything except parse errors
    bad_java = validated.where("schema_key = 'java' AND NOT ok AND error IS NULL")
    assert bad_java.count() == 0

    manifest = spark.read.parquet(f"{out}/manifest")
    summary = manifest.where("schema_key IS NULL")
    detail = manifest.where("schema_key IS NOT NULL")
    n_parts = summary.count()
    assert n_parts > 0
    assert {r.schema_fingerprint for r in summary.collect()} == {s1["fingerprint"]}
    fps = {r.schema_key: r.schema_fingerprint for r in detail.collect()}
    assert fps["python"] == full.fingerprint()
    assert fps["java"] == lax.fingerprint()
    assert fps["js"] == full.fingerprint()  # default fallback route
    # detail totals must reconcile with summary totals per partition
    import collections
    det_tot = collections.Counter()
    for r in detail.collect():
        det_tot[r.part_key] += r.n_docs
    for r in summary.collect():
        assert det_tot[r.part_key] == r.n_docs

    s2 = run_validation_job(
        spark, source, None, output_root=out,
        schemas=registry, route_col="lang", default_schema=full,
    )
    assert s2["partitions_pending"] == 0
    assert s2["partitions_committed"] == n_parts

    # single-schema run with a ROUTE's schema: no cross-mode resume
    s3 = run_validation_job(spark, source, full, output_root=out)
    assert s3["partitions_committed"] == 0
    assert s3["docs"] == 900


def test_partition_prune_skips_unchanged_partitions(spark, tmp_path):
    """Partition-level incremental fast path: after a full validated run,
    a new snapshot with churn confined to ONE repo-prefix partition must
    (a) skip every other partition via the manifest signature match,
    (b) never OPEN the unchanged partitions' data files (inputFiles gate
    on the partition-pruned read), and (c) produce verdicts that merge
    with the prior sink into exactly a from-scratch validation."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "jobs"))
    from incremental_job import incremental_validate_pruned

    from jsl_engine.spark_validate import validate_df

    source = generate_corpus(spark, 1000, seed=19, defect_rate=0.1, partitions=4)
    schema = compile_schema(CODE_FILE_SCHEMA)
    out = str(tmp_path / "base")
    s1 = run_validation_job(spark, source, schema, output_root=out)
    assert s1["docs"] == 1000

    # new snapshot: churn only docs whose repo prefix is org3
    churned = source.withColumn(
        "content",
        F.when(F.col("repo").startswith("org3"),
               F.concat(F.col("content"), F.lit(" "))).otherwise(F.col("content")),
    )
    new_root = str(tmp_path / "new_snapshot")
    churned.withColumn("part_key", F.substring("repo", 1, 4)).withColumn(
        "content_sha256", F.sha2("content", 256)
    ).write.partitionBy("part_key").parquet(new_root)

    fresh, changed, skipped, removed = incremental_validate_pruned(
        spark, f"{out}/manifest", s1["fingerprint"], new_root, schema
    )
    assert changed == ["org3"]
    assert set(skipped) == {f"org{i}" for i in range(7)} - {"org3"}
    assert removed == []

    # merged = prior sink for skipped partitions + fresh for changed
    prior = spark.read.parquet(f"{out}/validated").where(
        F.col("part_key").isin(skipped)
    ).select("part_key", "repo", "path", "commit", "ok", "n_errors",
             "content_sha256")
    merged = prior.unionByName(
        fresh.select("part_key", "repo", "path", "commit", "ok", "n_errors",
                     "content_sha256")
    )
    full = validate_df(churned, schema).select(
        "repo", "path", "commit", "ok", "n_errors", "content_sha256"
    )
    a = {tuple(r) for r in merged.drop("part_key").collect()}
    b = {tuple(r) for r in full.collect()}
    assert a == b

    # physical never-scanned gate: the executed content pass's
    # FileSourceScan metrics must show exactly ONE partition directory
    # and only its files read — unchanged partitions' data files are
    # never opened (collect() first: the metrics live on the executed
    # plan of this exact Dataset)
    pruned = spark.read.parquet(new_root).where(F.col("part_key").isin(changed))
    again = validate_df(
        pruned, schema, key_cols=("part_key", "repo", "path", "commit")
    )
    gate_df = again.select(
        "repo", "path", "commit", "ok", "n_errors", "content_sha256"
    )
    got_changed = {tuple(r) for r in gate_df.collect()}
    want_changed = {tuple(r) for r in fresh.select(
        "repo", "path", "commit", "ok", "n_errors", "content_sha256").collect()}
    assert got_changed == want_changed
    # metrics live on the executed plan of the EXACT Dataset collected
    scan = (
        gate_df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    )
    metrics = scan.metrics()
    assert metrics.apply("numPartitions").value() == 1
    import os
    org3_files = [
        f for f in os.listdir(f"{new_root}/part_key=org3")
        if f.endswith(".parquet")
    ]
    assert metrics.apply("numFiles").value() == len(org3_files)


def test_registry_null_route_does_not_poison_summary_or_resume(spark, tmp_path):
    """Rows with a NULL route value get a '<null_route>' detail row —
    NEVER a schema_key-NULL row, which is the summary row's signature:
    a NULL-keyed detail row would double-count those docs in the job
    totals and falsely satisfy a later single-schema run's
    committed_partitions check (resume contamination)."""
    from pyspark.sql import Row

    rows = [
        Row(repo=f"org{i % 2}/r", path=f"f{i}", commit=f"c{i}",
            lang=None if i % 3 == 0 else "py", content='{"k": 1}')
        for i in range(60)
    ]
    source = spark.createDataFrame(rows)
    py = compile_schema({"properties": {"k": {"type": "uint32"}}})
    default = compile_schema({})
    out = str(tmp_path / "nullroute")
    s1 = run_validation_job(
        spark, source, None, output_root=out,
        schemas={"py": py}, route_col="lang", default_schema=default,
    )
    assert s1["docs"] == 60  # NOT double-counted

    manifest = spark.read.parquet(f"{out}/manifest")
    detail_keys = {r.schema_key
                   for r in manifest.where("schema_key IS NOT NULL").collect()}
    assert detail_keys == {"py", "<null_route>"}
    # the default schema's fingerprint must not alias a summary row:
    # a later single-schema run with the DEFAULT schema sees nothing
    s2 = run_validation_job(spark, source, default, output_root=out)
    assert s2["partitions_committed"] == 0 and s2["docs"] == 60


def test_curate_flag_is_part_of_resume_identity(spark, corpus, tmp_path):
    """A curate run over a root committed by a NON-curate run must NOT
    resume-skip: the fingerprints differ, so every partition re-runs and
    the verdicts sink never mixes two schemas."""
    root = str(tmp_path / "curate_resume")
    schema = compile_schema(CODE_FILE_SCHEMA)
    r1 = run_validation_job(spark, corpus, schema, output_root=root)
    assert r1["partitions_pending"] > 0 and r1["partitions_committed"] == 0
    r2 = run_validation_job(spark, corpus, schema, output_root=root, curate=True)
    assert r2["partitions_pending"] == r1["partitions_pending"]
    assert r2["partitions_committed"] == 0
    # and the curate fingerprint resumes against itself
    r3 = run_validation_job(spark, corpus, schema, output_root=root, curate=True)
    assert r3["partitions_pending"] == 0


def test_curate_resume_fingerprint_keeps_arrow_tag(spark, corpus, tmp_path):
    """The curate riders' lang_id comes from the Arrow language kernel,
    and the resume fingerprint keeps the ``+curate|le=arrow`` tag it
    had when the engine was selectable: sinks written under the Arrow
    engine still resume, and sinks whose lang_id came from the retired
    JVM rider (``le=jvm``) re-validate instead of mixing semantics."""
    root = str(tmp_path / "curate_engine_tag")
    schema = compile_schema(CODE_FILE_SCHEMA)
    r1 = run_validation_job(spark, corpus, schema, output_root=root, curate=True)
    assert r1["partitions_pending"] > 0
    fps = {r.schema_fingerprint
           for r in read_manifest(spark, f"{root}/manifest").collect()}
    assert fps == {
        schema.fingerprint()
        + "+curate|le=arrow|k=repo,path,commit|c=content|p=4|s=0"
    }
    r2 = run_validation_job(spark, corpus, schema, output_root=root, curate=True)
    assert r2["partitions_pending"] == 0


def test_content_sig_multiplicity_sensitive(spark):
    """{A, X, X} vs {A, Y, Y}: a pure bit_xor signature cancels the
    even-multiplicity rows and collides; the v2 formula (xor + modular
    sum) must distinguish them."""
    from pyspark.sql import Row

    from jsl_engine.manifest import content_sig_expr

    def sig(rows):
        df = spark.createDataFrame(rows)
        [r] = df.agg(content_sig_expr(("k",), "h").alias("s")).collect()
        return r["s"]

    a = [Row(k="p", h="A"), Row(k="p", h="X"), Row(k="p", h="X")]
    b = [Row(k="p", h="A"), Row(k="p", h="Y"), Row(k="p", h="Y")]
    assert sig(a) != sig(b)
    # and stays order/partitioning-invariant
    assert sig(a) == sig(list(reversed(a)))


def test_strict_flag_is_part_of_resume_identity(spark, corpus, tmp_path):
    """Resuming under a different strict mode must re-validate, never
    skip — one sink must not mix two verdict semantics."""
    root = str(tmp_path / "strict_resume")
    schema = compile_schema(CODE_FILE_SCHEMA)
    r1 = run_validation_job(spark, corpus, schema, output_root=root)
    r2 = run_validation_job(spark, corpus, schema, output_root=root,
                            strict_instance_semantics=True)
    assert r2["partitions_pending"] == r1["partitions_pending"]
    assert r2["partitions_committed"] == 0


def test_null_first_key_lands_in_sentinel_partition(spark, tmp_path):
    """A NULL repo row flows into the visible __null__ partition instead
    of crashing the manifest append (non-nullable part_key) after the
    validation pass."""
    src = generate_corpus(spark, 200, seed=3, defect_rate=0.0, partitions=2)
    src = src.withColumn(
        "repo",
        F.when(F.xxhash64("path", "commit") % 10 == 0, F.lit(None)).otherwise(
            F.col("repo")
        ),
    )
    schema = compile_schema(CODE_FILE_SCHEMA)
    root = str(tmp_path / "nullkey")
    r = run_validation_job(spark, src, schema, output_root=root)
    assert r["docs"] == 200
    parts = {row.part_key for row in
             spark.read.parquet(f"{root}/manifest").select("part_key").collect()}
    assert "__null__" in parts


def test_empty_source_first_run_is_clean_noop(spark, tmp_path):
    """A scheduled job over a not-yet-populated table returns docs=0
    instead of crashing: its sink holds only _SUCCESS (no parquet footers)
    and is read back with the written schema, so it reads as empty."""
    src = generate_corpus(spark, 100, seed=5, defect_rate=0.0,
                          partitions=2).where(F.lit(False))
    schema = compile_schema(CODE_FILE_SCHEMA)
    r = run_validation_job(spark, src, schema,
                           output_root=str(tmp_path / "empty"))
    assert r["docs"] == 0


def test_all_numeric_part_key_stays_string(spark, tmp_path):
    """Zero-padded numeric repo prefixes stay strings end to end: an
    inferred read-back would turn part_key '0099' into 12/99, so the
    manifest would record keys no resume lookup matches (every re-run
    re-validates everything) and violations would land in part_key=99
    while the verdicts sit in part_key=0099."""
    from pyspark.sql import Row

    source = spark.createDataFrame([
        Row(repo="0012/x", path="a", commit="c", content='{"n": 1}'),
        Row(repo="0099/y", path="b", commit="c", content='{"n": "bad"}'),
    ])
    schema = compile_schema({"properties": {"n": {"type": "int32"}}})
    root = str(tmp_path / "numeric")
    r1 = run_validation_job(spark, source, schema, output_root=root)
    assert r1["partitions_pending"] == 2 and r1["docs"] == 2
    keys = {r.part_key for r in read_manifest(spark, f"{root}/manifest").collect()}
    assert keys == {"0012", "0099"}
    assert (tmp_path / "numeric" / "violations" / "part_key=0099").is_dir()
    assert (tmp_path / "numeric" / "validated" / "part_key=0099").is_dir()

    r2 = run_validation_job(spark, source, schema, output_root=root)
    assert r2["partitions_pending"] == 0 and r2["partitions_committed"] == 2


def test_job_leaves_session_overwrite_mode_alone(spark, corpus, tmp_path):
    """The sink writes overwrite dynamically per write; the caller's
    session-wide partitionOverwriteMode is not touched."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        schema = compile_schema(CODE_FILE_SCHEMA)
        run_validation_job(spark, corpus, schema, output_root=str(tmp_path / "o"))
        assert spark.conf.get(key).lower() == "static"
    finally:
        spark.conf.set(key, before)


def test_absent_manifest_lookup_launches_no_spark_job(spark, tmp_path):
    """A fresh root's resume lookup is answered from an Arrow-backed empty
    frame (a local scan): collecting it registers no Spark job."""
    sc = spark.sparkContext
    group = "absent-manifest-lookup"
    sc.setJobGroup(group, "committed_partitions on a missing manifest")
    try:
        rows = committed_partitions(
            spark, str(tmp_path / "missing" / "manifest"), "fp"
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows == []
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_unreadable_manifest_raises(spark, tmp_path):
    """Only an ABSENT manifest reads as "nothing committed": a manifest
    directory holding a file that is not Parquet must raise, never come
    back as an empty frame (that would re-validate the whole corpus and
    append a second commit log on top of the bad one)."""
    manifest = tmp_path / "bad" / "manifest"
    manifest.mkdir(parents=True)
    (manifest / "part-00000.parquet").write_text("not a parquet file\n")
    with pytest.raises(Exception, match="not a Parquet file"):
        read_manifest(spark, str(manifest)).collect()
    with pytest.raises(Exception, match="not a Parquet file"):
        committed_partitions(spark, str(manifest), "fp").collect()


def test_each_commit_writes_one_manifest_file(spark, corpus, tmp_path):
    """The manifest append is one local Arrow table written as one file:
    a single-schema commit and a registry commit (summary + per-route
    detail rows) leave exactly one parquet file each."""
    full = compile_schema(CODE_FILE_SCHEMA)
    root = tmp_path / "onefile"
    s1 = run_validation_job(spark, corpus, full, output_root=str(root))
    s2 = run_validation_job(
        spark, corpus, None, output_root=str(root),
        schemas={"python": full, "java": compile_schema({})},
        route_col="lang", default_schema=full,
    )
    assert s1["partitions_pending"] > 0 and s2["partitions_pending"] > 0
    files = sorted((root / "manifest").glob("*.parquet"))
    assert len(files) == 2
    m = read_manifest(spark, str(root / "manifest"))
    assert m.select("job_id").distinct().count() == 2
    assert m.where("schema_key IS NOT NULL").count() > 0
    summary = m.where("schema_key IS NULL")
    assert summary.where(F.col("job_id") == s2["job_id"]).agg(
        F.sum("n_docs")).first()[0] == s2["docs"] == 1200
