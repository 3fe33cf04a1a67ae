"""Print formatted physical plans for the engine's key queries and assert
the plan properties that matter at scale:

* the validation path prunes the parquet scan to key + content columns
  (ReadSchema), and pushes partition-pruning filters down;
* the RI anti-join broadcasts the dimension (BroadcastHashJoin ... LeftAnti);
* the stats aggregation is a two-phase hash aggregate inside
  WholeStageCodegen (partial_ on the map side);
* top-k compiles to TakeOrderedAndProject (no global sort).

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

import __spark_entry__ as em
from jsl_engine import table_checks as tc
from jsl_engine.partitioning import get_spark
from jsl_engine.schema import compile_schema
from jsl_engine.spark_validate import validate_df


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def check(name: str, df, must_contain: list[str], must_not: list[str] = ()) -> bool:
    plan = plan_of(df)
    ok = True
    for frag in must_contain:
        if frag not in plan:
            print(f"  MISSING in {name}: {frag!r}")
            ok = False
    for frag in must_not:
        if frag in plan:
            print(f"  UNEXPECTED in {name}: {frag!r}")
            ok = False
    print(f"{name:28s} {'OK' if ok else 'BAD'}")
    if not ok:
        print(plan[:4000])
    return ok


def main(sf_dir: str) -> int:
    spark = get_spark("local[4]", shuffle_partitions=8,
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    ok = True

    # 1. validation path: column pruning must reach the scan — only the
    #    key + content columns are read, not lang
    v = validate_df(events, compile_schema({"properties": {"k": {}}}),
                    content_col="props", key_cols=("event_id",))
    plan = plan_of(v)
    ok &= check(
        "validate column pruning", v,
        must_contain=["ReadSchema: struct<event_id:bigint,props:string>"],
    )

    # 2. predicate pushdown through the validation input: a filter on a
    #    key column reaches the parquet scan
    vf = validate_df(events.where(F.col("event_type") == "click"),
                     compile_schema({}), content_col="props",
                     key_cols=("event_id",))
    ok &= check("validate filter pushdown", vf,
                must_contain=["PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"])

    # 3. RI anti-join broadcasts the dim
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"))
    ri = tc.ri_violations(orders, customer, ["o_custkey"])
    ok &= check("RI broadcast anti-join", ri,
                must_contain=["BroadcastHashJoin", "LeftAnti"],
                must_not=["SortMergeJoin"])

    # 4. grouped stats: two-phase hash aggregate (partial_* = map-side
    #    combine before the exchange; codegen is implied for HashAggregate)
    gs = tc.grouped_stats(lineitem, ["l_returnflag", "l_linestatus"], "l_quantity")
    ok &= check("stats partial agg", gs,
                must_contain=["HashAggregate", "partial_sum", "partial_avg"])

    # 5. top-k: TakeOrderedAndProject, no global Sort+Exchange
    tk = em.q_top_customers(spark, sf_dir)
    ok &= check("top-k no global sort", tk,
                must_contain=["TakeOrderedAndProject"])

    # 6. LSH candidate pairs: the oversized-bucket guard (windowed bucket
    #    count + filter on __bucket_n) must sit UPSTREAM of the self-join —
    #    the guard column is dropped pre-join, so its appearance in a
    #    Filter proves pruning happens before any pair is materialized;
    #    and no CartesianProduct anywhere
    from jsl_engine.text_ops import lsh_candidate_pairs
    from jsl_engine.text_ops_arrow import minhash_signatures_arrow
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = lsh_candidate_pairs(minhash_signatures_arrow(docs), num_hashes=64)
    ok &= check("LSH guard before self-join", pairs,
                must_contain=["__bucket_n", "Window"],
                must_not=["CartesianProduct"])

    # 7. winnowing overlap: same guard-before-join property (the guard
    #    column is dropped pre-join), and no cartesian product
    from jsl_engine.text_ops_arrow import fingerprint_overlap_pairs_arrow
    wp = fingerprint_overlap_pairs_arrow(docs)
    ok &= check("winnow guard before self-join", wp,
                must_contain=["__n", "Window"],
                must_not=["CartesianProduct"])

    # 8. embedding near-dup: the oversized-bucket guard (windowed bucket
    #    count, column dropped pre-join) sits upstream of the self-join —
    #    a dense cluster collapsing into one SRP bucket contributes zero
    #    pairs instead of ~n²/2; and no cartesian product
    from jsl_engine.similarity import embedding_near_duplicates
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ed = embedding_near_duplicates(emb, threshold=0.2, n_planes=12, dim=64)
    ok &= check("embedding guard before join", ed,
                must_contain=["__bucket_n", "Window"],
                must_not=["CartesianProduct"])

    # 9. simhash pigeonhole banding: per-(block, value) bucket guard
    #    upstream of the self-join, exact bit_count verify, no cartesian
    from jsl_engine.text_ops import simhash_pairs_from_hashes
    from jsl_engine.text_ops_arrow import simhash_arrow
    sp = simhash_pairs_from_hashes(simhash_arrow(docs), max_hamming=3)
    ok &= check("simhash guard before join", sp,
                must_contain=["__bucket_n", "Window", "bit_count"],
                must_not=["CartesianProduct"])

    # 10. hash_split is a pure projection: no Exchange, no Window — the
    #     split decision is row-local arithmetic inside codegen
    from jsl_engine.sampling import hash_split
    hs = hash_split(docs.select("doc_id", "lang"))
    ok &= check("hash_split pure projection", hs,
                must_contain=["Project"],
                must_not=["Exchange", "Window", "Sort"])

    # 11. contamination: the benchmark gram set must broadcast (the corpus
    #     is never shuffled to meet the benchmark), no cartesian product
    from jsl_engine.text_ops import contamination
    bench = docs.where(F.col("doc_id") % 20 == 7)
    cont = contamination(docs.where(F.col("doc_id") % 20 != 7), bench)
    ok &= check("contamination bench broadcast", cont,
                must_contain=["BroadcastHashJoin"],
                must_not=["CartesianProduct"])

    # 12. secret scan is map-only: regexp counts are row-local JVM
    #     expressions — no shuffle, no Python in the plan
    from jsl_engine.redaction import secret_scan
    sc_plan = secret_scan(docs)
    ok &= check("secret_scan map-only", sc_plan,
                must_contain=["Project"],
                must_not=["Exchange", "Python", "Window", "Sort"])

    # 13. vocabulary top-k: the (group, token) count must partial-aggregate
    #     map-side (the exchange carries vocabulary, not corpus rows)
    from jsl_engine.text_ops import vocabulary_topk
    vk = vocabulary_topk(docs, k=10)
    ok &= check("vocab partial agg", vk,
                must_contain=["HashAggregate", "partial_count"])

    print("ALL OK" if ok else "PLAN REGRESSIONS FOUND")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
