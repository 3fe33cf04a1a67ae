"""Physical-plan property gate: pushdown, pruning, broadcast, partial aggs
must survive refactors (tools/explain_plans.py as a test)."""

#: The shipped sf tables (TESTDATA.md).
TESTDATA = "/root/testdata"


def test_plan_properties():
    from tools.explain_plans import main

    assert main("/root/testdata/sf0.001") == 0


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Tables bucketed on the join key must sort-merge-join with zero
    Exchange operators (the pay-shuffle-once-at-write-time contract of
    partitioning.write_bucketed)."""
    from pyspark.sql import functions as F

    from jsl_engine.partitioning import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet").select(
            F.col("c_custkey").alias("o_custkey"), "c_name"
        )
        write_bucketed(orders, "orders_bucketed", ["o_custkey"], buckets=8)
        write_bucketed(cust, "customer_bucketed", ["o_custkey"], buckets=8)
        j = spark.table("orders_bucketed").join(
            spark.table("customer_bucketed"), "o_custkey"
        )
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")
        spark.sql("DROP TABLE IF EXISTS customer_bucketed")


def test_verified_jaccard_tail_plan_shape(spark):
    """The exact-verify tail's scale-critical physical properties: the
    corpus semi-join against the candidate id set must be a BROADCAST
    join (no full-corpus shuffle to meet a few thousand ids), and an
    explicit round-robin exchange must sit before the gram kernel (the
    candidate subset is small — without it, scan splits or AQE
    coalescing serialize the per-doc kernel on one core; measured
    6.8s -> ~0.5s at sf0.1). The gram table is built and broadcast ONCE
    (both pair-side joins probe it; the second is a ReusedExchange),
    building the tail launches no job beyond the pair checkpoint's, and
    an empty candidate set yields an empty result."""
    from pyspark.sql import Row, functions as F

    from jsl_engine.text_ops import verified_jaccard_pairs

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta epsilon {i} " * 12)
         for i in range(300)]
    )
    pairs = spark.createDataFrame(
        [Row(id_a=2 * i, id_b=2 * i + 1) for i in range(50)]
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_of(group, build):
        sc.setJobGroup(group, group)
        try:
            built = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return built, len(tracker.getJobIdsForGroup(group))

    _, checkpoint_jobs = jobs_of(
        "verify-tail-bare-checkpoint",
        lambda: pairs.select("id_a", "id_b").localCheckpoint(eager=True),
    )
    out, tail_jobs = jobs_of(
        "verify-tail-build",
        lambda: verified_jaccard_pairs(docs, pairs, threshold=0.0),
    )
    assert tail_jobs == checkpoint_jobs, (tail_jobs, checkpoint_jobs)

    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:3000]
    assert "RoundRobinPartitioning" in plan, plan[:3000]
    assert len(out.collect()) == 50
    # after execution the adaptive plan is final: the semi-join's id set
    # and the gram table are the only two broadcasts built, and the
    # second gram-table join reuses the first one's exchange
    final = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    tree = final.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert tree.count("BroadcastExchange") == 2, final[:4000]
    assert tree.count("ReusedExchange") == 1, final[:4000]
    # the gram kernel is the tail's only Python stage: the pair counts
    # are JVM expressions
    python = [n for n in _tree_nodes(tree)
              if "InArrow" in n or "Python" in n or "InPandas" in n]
    assert python == ["MapInArrow"], final[:4000]

    empty = pairs.where(F.lit(False))
    assert verified_jaccard_pairs(docs, empty, threshold=0.0).count() == 0


def _final_tree(final_plan: str) -> list[tuple[int, str]]:
    """(depth, text) of every line of an executed adaptive plan's final
    tree, in tree order."""
    tree = final_plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    nodes = []
    for line in tree.splitlines():
        body = line.lstrip(" :+-")
        if body:
            nodes.append((len(line) - len(body), body))
    return nodes


def _ancestors(nodes: list[tuple[int, str]], i: int) -> list[str]:
    """The texts of node ``i``'s ancestors, parent first."""
    out, depth = [], nodes[i][0]
    for d, text in reversed(nodes[:i]):
        if d < depth:
            out.append(text)
            depth = d
    return out


def _band_exchange_reads(final_plan: str) -> list[tuple[str, str]]:
    """(exchange line, the line two levels up) for every (band, bucket)
    exchange in an executed adaptive plan's final tree: the grandparent
    is what reads the exchange's query stage (an ``AQEShuffleRead``
    when AQE coalesced it)."""
    nodes = _final_tree(final_plan)
    out = []
    for i, (_, text) in enumerate(nodes):
        if "hashpartitioning(band" not in text:
            continue
        ancestors = _ancestors(nodes, i)
        assert len(ancestors) >= 2, final_plan[:4000]
        out.append((text, ancestors[1]))
    return out


def test_band_exchange_keeps_shuffle_partitions(spark):
    """The LSH band stage (bucket-size window + self-join on (band,
    bucket)) runs on ``spark.sql.shuffle.partitions`` tasks: its
    exchange is an explicit-count repartition, so after execution AQE
    has not coalesced it (no ``AQEShuffleRead`` reads it). Left to AQE,
    a sandbox-sized band exchange was merged into one task and the
    window and self-join ran on one core. Both banded near-dup
    operators (text MinHash and embedding SRP) are pinned."""
    import random

    from pyspark.sql import Row

    from jsl_engine.similarity import embedding_near_duplicates
    from jsl_engine.text_ops import lsh_candidate_pairs
    from jsl_engine.text_ops_arrow import minhash_signatures_arrow

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta {i % 40} epsilon {i % 7} eta")
         for i in range(400)]
    )
    sigs = minhash_signatures_arrow(docs, "text", "doc_id", 32, 3).cache()
    sigs.count()
    rng = random.Random(7)
    vecs = spark.createDataFrame(
        [Row(vec_id=i, embedding=[rng.gauss(0, 1) for _ in range(8)])
         for i in range(400)]
    )
    try:
        for out in (
            lsh_candidate_pairs(sigs, bands=8, num_hashes=32),
            embedding_near_duplicates(vecs, threshold=0.9, n_planes=4, dim=8),
        ):
            out.collect()
            final = out._jdf.queryExecution().executedPlan().toString()
            reads = _band_exchange_reads(final)
            assert reads, final[:4000]
            for exchange, reader in reads:
                assert f", {n}), " in exchange, exchange
                assert "AQEShuffleRead" not in reader, (reader, final[:4000])
    finally:
        sigs.unpersist()


def test_registry_table_read_launches_no_job(spark):
    """``__spark_entry__._t`` pins each table's schema from its Parquet
    footer (read on the driver), so building a registry table frame
    launches no Spark job; an unpinned read runs a schema-inference job
    per table."""
    import __spark_entry__ as em
    from tools.check_oracle import TABLES

    sc = spark.sparkContext
    group = "registry-table-read"
    sc.setJobGroup(group, "_t over every registry table")
    try:
        for name in TABLES:
            em._t(spark, f"{TESTDATA}/sf0.01", name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_registry_table_schema_matches_inferred(spark):
    """The footer-pinned schema equals Spark's own inferred schema for
    every registry table at every scale, naive timestamps included
    (``timestamp_ntz``, not the session-zoned ``timestamp``)."""
    import __spark_entry__ as em
    from tools.check_oracle import TABLES

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sf_dir = f"{TESTDATA}/{sf}"
        for name in TABLES:
            inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
            assert em._t(spark, sf_dir, name).schema == inferred, (sf, name)


def test_fan_out_probes_only_shuffle_free_plans(spark, tmp_path):
    """fan_out's partition probe (.rdd.getNumPartitions) is job-free
    ONLY on scan-rooted plans — under AQE, .rdd on a plan containing an
    Exchange EXECUTES the upstream shuffle stages, which the real
    action then re-runs. So: a shuffled input must pass through
    IDENTICALLY (no probe, no repartition), while a single-split scan
    still fans out to defaultParallelism."""
    from pyspark.sql import functions as F

    from jsl_engine.partitioning import fan_out

    path = str(tmp_path / "one_split.parquet")
    spark.range(100).selectExpr("id", "repeat('x', 10) as text") \
        .coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert (fan_out(scan).rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)

    shuffled = scan.groupBy("text").agg(F.count("*").alias("c"))
    assert fan_out(shuffled) is shuffled
    # broadcast-join plans carry a BroadcastExchange — also skipped
    joined = scan.join(F.broadcast(spark.range(100)), "id")
    assert fan_out(joined) is joined


def test_chunk_documents_plan_is_map_only(spark):
    """chunk_documents must stay a single map-side pipeline: no Exchange
    (nothing to shuffle), no Python evaluation node (the kernel is pure
    JVM expressions), and one Generate for the bounded chunk explode."""
    from pyspark.sql import Row

    from jsl_engine.sampling import chunk_documents

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f g h i j k l m n o p")]
    )
    plan = chunk_documents(df, chunk_tokens=4, overlap=1)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert "Python" not in plan and "ArrowEval" not in plan, plan[:2000]
    assert plan.count("Generate") == 1, plan[:2000]


def test_bpe_type_cut_is_take_ordered(spark):
    """train_bpe's word-type cut (orderBy count desc + limit) must
    compile to TakeOrderedAndProject — a per-partition top-K merge, not
    a global sort of the type table."""
    from pyspark.sql import Row, functions as F

    from jsl_engine.bpe import _word_types

    df = spark.createDataFrame([Row(doc_id=1, text="a b c a b a")])
    q = _word_types(df, "text", False).orderBy(
        F.col("n").desc(), F.col("word")
    ).limit(100)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_chunk_documents_bpe_plan_no_shuffle(spark):
    """Token-space chunking must add NO Exchange: one Arrow encode pass
    (the expected single Python node) feeding the window explode —
    everything after the encode stays in codegen."""
    from pyspark.sql import Row

    from jsl_engine.bpe import chunk_documents_bpe, train_bpe

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b a b a b c c a b")]
    )
    merges = train_bpe(df, n_merges=4)
    plan = chunk_documents_bpe(
        df, merges, chunk_tokens=4, overlap=1
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert plan.count("Generate") == 1, plan[:2000]


def _tree_nodes(tree: str) -> list[str]:
    """Operator names of a plan tree's text, one per tree line."""
    import re

    return [m.group(1) for m in re.finditer(r"^[\s:|+-]*(\w+)", tree, re.M)]


def _plan_nodes(df) -> list[str]:
    """Operator names of ``df``'s physical plan, one per tree line."""
    return _tree_nodes(df._jdf.queryExecution().executedPlan().toString())


def test_topk_queries_keep_their_python_and_exchange_counts(spark):
    """The three registry queries ranked by ``topk_per_group`` plan one
    Python node per cut (the cosine kernels, the cell assignments and
    the cuts in topk_cosine) and the exchanges they had when each wrote
    its own cut and rank window: the operator adds no Python stage and
    no shuffle."""
    import __spark_entry__ as em

    expected = {
        "top_orders_per_priority": (1, 1),
        "topk_cosine_embeddings": (6, 4),
        "stratified_sample_documents": (1, 3),
    }
    reg = em.queries()
    for name, (n_python, n_exchange) in expected.items():
        nodes = _plan_nodes(reg[name](spark, f"{TESTDATA}/sf0.001"))
        python = [n for n in nodes if "InArrow" in n or "Python" in n
                  or "InPandas" in n]
        exchanges = [n for n in nodes if n.endswith("Exchange")]
        assert (len(python), len(exchanges)) == (n_python, n_exchange), (
            name, nodes)


def test_stratified_sample_fans_out_its_ranking_input_not_its_result(spark):
    """``stratified_sample_documents`` spreads the narrow ranking input
    (a round-robin exchange under the rank) and its broadcast semi-join
    reads the scan: no ``RoundRobinPartitioning`` exchange sits above
    the ``LeftSemi`` join of the executed plan, where it would shuffle
    the 25-row result."""
    import __spark_entry__ as em

    df = em.queries()["stratified_sample_documents"](spark, f"{TESTDATA}/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = _final_tree(plan)
    [join] = [i for i, (_, text) in enumerate(nodes) if "LeftSemi" in text]
    ancestors = _ancestors(nodes, join)
    assert ancestors, plan
    assert not any("RoundRobinPartitioning" in a for a in ancestors), plan
    assert any("RoundRobinPartitioning" in t for _, t in nodes[join:]), plan
