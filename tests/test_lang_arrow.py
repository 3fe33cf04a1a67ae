"""Arrow language-id kernel parity (jsl_engine.lang_arrow).

The contract is exact equality with the JVM operator
:func:`jsl_engine.text_ops.language_id` on ``(lang_id, marker_hits)``:
the Unicode tables are JVM-extracted, so any divergence is a logic bug.
Parity is pinned on the per-language fixtures, adversarial edge cases
(mixed scripts near the dominance boundary, NBSP/unicode whitespace,
Greek final sigma, ties), and the real testdata corpus.
"""

import numpy as np
import pytest
from pyspark.sql import Row

from jsl_engine import text_ops as T
from jsl_engine.lang_arrow import classify_text, language_id_arrow
from tests.test_text_ops import LANG_FIXTURES

EDGE_TEXTS = [
    "",  # empty
    "    ",  # whitespace only
    "12345 !!! §§§ ©©©",  # no letters at all
    "the den og il de la het",  # multi-language marker tie bait
    "und also the the the and and of to in it",  # en markers
    " the and of to in is og det",  # unicode ws
    "ΟΔΥΣΣΕΥΣ ΗΛΘΕΝ ΕΙΣ ΤΗΝ ΠΟΛΙΝ ΚΑΙ ΕΜΕΙΝΕΝ",  # Greek uppercase (sigma lowering)
    "λόγος λόγος λόγος τέλος",  # Greek final sigma
    "abc 北京 def",  # Han below dominance (2 chars < 3)
    "北京上 and the rest is english text entirely",  # Han at 3 chars, 10% boundary
    "日本語のテキスト with latin words mixed in the line",
    "München straße GROẞE İstanbul",  # special lowercase mappings
    "и в не on the и в не на что",  # cyrillic markers inside latin text
    "ʼn ǅ ǈ ǲ ﬀ ﬁ",  # titlecase digraphs / ligature lowercase edge
]


def _jvm(spark, texts):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    return {
        r.doc_id: (r.lang_id, r.marker_hits)
        for r in T.language_id(df).collect()
    }


def _arrow(spark, texts):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    return {
        r.doc_id: (r.lang_id, r.marker_hits)
        for r in language_id_arrow(df).collect()
    }


def test_parity_on_language_fixtures(spark):
    texts = [LANG_FIXTURES[k] for k in sorted(LANG_FIXTURES)]
    assert _arrow(spark, texts) == _jvm(spark, texts)


def test_parity_on_edge_cases(spark):
    assert _arrow(spark, EDGE_TEXTS) == _jvm(spark, EDGE_TEXTS)


def test_parity_on_random_unicode_soup(spark):
    """Seeded random mixtures drawn from every script table plus Latin
    markers and junk — hunts decision-boundary divergences the curated
    fixtures might miss."""
    from jsl_engine import _uniprops as U

    rng = np.random.default_rng(42)
    pools = []
    for name in ("KO", "JA", "ZH", "TH", "HE", "EL", "AR", "HI", "CYR"):
        rngs = getattr(U, f"{name}_RANGES")[:4]
        pools.append([chr(c) for lo, hi in rngs for c in range(lo, min(hi, lo + 40) + 1)])
    latin_words = [w for ws in T._LATIN_MARKERS.values() for w in ws]
    cyr_words = [w for ws in T._CYRILLIC_MARKERS.values() for w in ws]
    texts = []
    for _ in range(120):
        parts = []
        for _ in range(int(rng.integers(1, 12))):
            kind = int(rng.integers(0, 4))
            if kind == 0:
                pool = pools[int(rng.integers(0, len(pools)))]
                parts.append("".join(rng.choice(pool, size=int(rng.integers(1, 6)))))
            elif kind == 1:
                parts.append(str(rng.choice(latin_words)))
            elif kind == 2:
                parts.append(str(rng.choice(cyr_words)))
            else:
                parts.append("x1!@" [: int(rng.integers(1, 5))])
        texts.append(" ".join(parts))
    assert _arrow(spark, texts) == _jvm(spark, texts)


def test_parity_on_testdata_corpus(spark):
    """Full corpus parity at sf0.001 — the operating distribution."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    jvm = {r.doc_id: (r.lang_id, r.marker_hits)
           for r in T.language_id(docs).collect()}
    arrow = {r.doc_id: (r.lang_id, r.marker_hits)
             for r in language_id_arrow(docs).collect()}
    assert arrow == jvm
    assert len(arrow) > 0


def test_keep_cols_passthrough_and_plan(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="the and of to", source="s1")]
    )
    out = language_id_arrow(df, keep_cols=("source",)).collect()
    assert out[0].source == "s1" and out[0].lang_id == "en"
    plan = (language_id_arrow(df, balance=False)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan
    # default balance=True fans small inputs out to every core
    # (coalesce(1) first: createDataFrame already parallelizes, which
    # would make the assertion vacuous)
    assert (language_id_arrow(df.coalesce(1)).rdd.getNumPartitions()
            == df.sparkSession.sparkContext.defaultParallelism)


def test_null_text_is_und(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text=None)], "doc_id long, text string"
    )
    [r] = language_id_arrow(df).collect()
    assert (r.lang_id, r.marker_hits) == ("und", 0)


def test_fused_curate_pass_arrow_engine_parity(spark):
    """validate_df(curate=True, lang_engine='arrow') must equal the JVM-engine
    fused pass row-for-row on a generated corpus (the composed-job
    surface of the kernel), and stay single-scan / zero-shuffle."""
    from jsl_engine.corpus import CODE_FILE_SCHEMA, generate_corpus
    from jsl_engine.schema import compile_schema
    from jsl_engine.spark_validate import validate_df

    schema = compile_schema(CODE_FILE_SCHEMA)
    src = generate_corpus(spark, 2000, seed=5).cache()
    try:
        def rows(engine):
            out = validate_df(
                src, schema, content_col="content", text_col="content",
                key_cols=("repo", "path", "commit"), curate=True,
                lang_engine=engine,
            )
            return sorted(map(tuple, out.drop("violations").collect()))

        assert rows("arrow") == rows("jvm")
        plan = (
            validate_df(
                src, schema, content_col="content", text_col="content",
                key_cols=("repo", "path", "commit"), curate=True,
                lang_engine="arrow",
            )._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
    finally:
        src.unpersist()


def test_classify_text_direct():
    assert classify_text("the and of to in it is was")[0] == "en"
    assert classify_text("今天天气很好我们一家人去公园散步")[0] == "zh"
    assert classify_text("")[0] == "und"
