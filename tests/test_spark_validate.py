"""End-to-end Spark validation tests: the spec corpus run through the
mapInPandas path must produce exactly the kernel's violations; the sha256
row invariant must hold; the synthetic corpus must validate end-to-end."""

import hashlib
import json
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from jsl_engine.corpus import CODE_FILE_SCHEMA, generate_corpus
from jsl_engine.schema import compile_schema
from jsl_engine.spark_validate import validate_df, verdicts, violations

SPEC_DIR = Path(__file__).parent / "spec"


def spec_documents():
    """Flatten the spec corpus into (suite_id, doc_id, schema, strict,
    content, expected_errors) rows."""
    for path in sorted(SPEC_DIR.glob("*.json")):
        for s, suite in enumerate(json.loads(path.read_text())):
            for i, inst in enumerate(suite["instances"]):
                yield (
                    f"{path.stem}:{s}",
                    str(i),
                    suite["schema"],
                    suite["strictInstance"],
                    json.dumps(inst["instance"]),
                    sorted(
                        (e["schemaPath"], e["instancePath"]) for e in inst["errors"]
                    ),
                )


def test_spec_corpus_through_spark(spark):
    """Group spec docs by (schema, strict) and validate each group as a
    DataFrame; compare exploded violation rows to golden, sorted by
    (schemaPath, instancePath) (reference: tests/spec_test.rs:65-71)."""
    groups: dict = {}
    for suite_id, doc_id, schema, strict, content, expected in spec_documents():
        key = (json.dumps(schema, sort_keys=True), strict)
        groups.setdefault(key, []).append((suite_id, doc_id, content, expected))

    for (schema_json, strict), docs in groups.items():
        schema = compile_schema(schema_json)
        df = spark.createDataFrame(
            [Row(repo=sid, path=did, commit="c0", content=content)
             for sid, did, content, _ in docs]
        )
        out = validate_df(
            df, schema, strict_instance_semantics=strict
        ).collect()
        by_key = {(r.repo, r.path): r for r in out}
        assert len(out) == len(docs)
        for sid, did, _content, expected in docs:
            row = by_key[(sid, did)]
            assert row.error is None
            got = sorted(
                (v.schema_path, v.instance_path) for v in (row.violations or [])
            )
            assert got == expected, (sid, did)
            assert row.ok == (not expected)
            assert row.n_errors == len(expected)


def test_sha256_invariant(spark):
    """F.sha2(content, 256) must equal hashlib.sha256().hexdigest() per row
    (BASELINE.md per-row invariant)."""
    docs = ['{"k": 1}', '{"k": "x", "nested": [1, 2, null]}', "not json", ""]
    df = spark.createDataFrame(
        [Row(repo="r", path=str(i), commit="c", content=c) for i, c in enumerate(docs)]
    )
    schema = compile_schema({"properties": {"k": {}}})
    out = {r.path: r.content_sha256 for r in validate_df(df, schema).collect()}
    for i, c in enumerate(docs):
        assert out[str(i)] == hashlib.sha256(c.encode()).hexdigest()


def test_parse_error_and_depth_verdicts(spark):
    schema = compile_schema({"definitions": {"a": {"ref": "a"}}, "ref": "a"})
    df = spark.createDataFrame(
        [
            Row(repo="r", path="bad-json", commit="c", content="{oops"),
            Row(repo="r", path="cyclic", commit="c", content="{}"),
        ]
    )
    out = {r.path: r for r in validate_df(df, schema).collect()}
    assert out["bad-json"].error == "json_parse_error"
    assert not out["bad-json"].ok
    assert out["cyclic"].error == "max_depth_exceeded"
    assert not out["cyclic"].ok
    assert out["cyclic"].violations is None


def test_non_rfc8259_literals_are_parse_errors(spark):
    """NaN/Infinity/-Infinity are accepted by Python's json module but
    rejected by serde_json (the reference's parser) and DuckDB json_valid;
    they must land in the json_parse_error bucket — NaN passing
    'type: float64' would silently flip the verdict vs the reference."""
    schema = compile_schema({"properties": {"k": {"type": "float64"}}})
    docs = {
        "nan": '{"k": NaN}',
        "inf": '{"k": Infinity}',
        "ninf": '{"k": -Infinity}',
        "ok": '{"k": 1.5}',
    }
    df = spark.createDataFrame(
        [Row(repo="r", path=p, commit="c", content=c) for p, c in docs.items()]
    )
    out = {r.path: r for r in validate_df(df, schema).collect()}
    for p in ("nan", "inf", "ninf"):
        assert out[p].error == "json_parse_error", p
        assert not out[p].ok
    assert out["ok"].ok


def test_parser_serde_json_parity_edges(spark):
    """orjson-backed parsing must classify exactly like serde_json:
    lone surrogate escapes and leading zeros reject; ints beyond u64 but
    within f64 parse to the lossy f64 (so 2^64 still passes uint64).
    Documented divergence: instances nested beyond serde_json's default
    128 recursion limit still parse here (kernel recursion is bounded by
    schema depth via max_depth ref hops, so deep instances cannot crash
    a task either way)."""
    schema = compile_schema({"properties": {"k": {}}})
    deep = '{"k": ' + "[" * 3000 + "1" + "]" * 3000 + "}"
    docs = {
        "surrogate": '{"k": "\\ud800"}',
        "paired": '{"k": "\\ud83d\\ude00"}',
        "leading_zero": '{"k": 01}',
        "deep": deep,
    }
    df = spark.createDataFrame(
        [Row(repo="r", path=p, commit="c", content=c) for p, c in docs.items()]
    )
    out = {r.path: r for r in validate_df(df, schema).collect()}
    assert out["surrogate"].error == "json_parse_error"
    assert out["paired"].ok
    assert out["leading_zero"].error == "json_parse_error"
    assert out["deep"].ok  # parses + schema doesn't walk it (divergence pin)

    u64 = compile_schema({"properties": {"k": {"type": "uint64"}}})
    df2 = spark.createDataFrame(
        [Row(repo="r", path="big", commit="c", content='{"k": 18446744073709551616}')]
    )
    [r] = validate_df(df2, u64).collect()
    assert r.ok  # 2^64 reads as f64 2^64 == the uint64 max literal


def test_overflowing_float_literal_is_parse_error(spark):
    """serde_json rejects float literals beyond f64 range ('number out of
    range'); Python maps them to inf — which would then PASS float64 and
    fail int bounds differently. Both must be json_parse_error."""
    schema = compile_schema({"properties": {"k": {"type": "float64"}}})
    df = spark.createDataFrame(
        [
            Row(repo="r", path="big", commit="c", content='{"k": 1e400}'),
            Row(repo="r", path="nbig", commit="c", content='{"k": -1e400}'),
            Row(repo="r", path="edge", commit="c", content='{"k": 1.7e308}'),
        ]
    )
    out = {r.path: r for r in validate_df(df, schema).collect()}
    assert out["big"].error == "json_parse_error"
    assert out["nbig"].error == "json_parse_error"
    assert out["edge"].ok  # max finite double still parses


def test_parse_document_matches_stdlib_on_clean_json():
    """Property: on RFC 8259-clean JSON (finite numbers, paired
    surrogates), the orjson-backed parse_document returns exactly what
    the stdlib would — the serde_json-parity special cases only ever
    diverge on documents the stdlib mishandles."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from jsl_engine.spark_validate import _PARSE_ERROR, parse_document

    scalars = (
        st.none()
        | st.booleans()
        | st.integers(min_value=-(2**63), max_value=2**64 - 1)
        | st.floats(allow_nan=False, allow_infinity=False)
        | st.text()
    )
    docs = st.recursive(
        scalars,
        lambda inner: st.lists(inner, max_size=4)
        | st.dictionaries(st.text(max_size=8), inner, max_size=4),
        max_leaves=20,
    )

    @settings(max_examples=300, deadline=None)
    @given(docs)
    def run(doc):
        s = json.dumps(doc, allow_nan=False)
        got = parse_document(s)
        assert got is not _PARSE_ERROR
        assert got == json.loads(s)

    run()


def test_corpus_end_to_end(spark):
    """Flagship slice: synthetic source-code table → validate → verdict and
    violation views; defect classes all appear; clean docs all pass."""
    df = generate_corpus(spark, 2000, seed=42, defect_rate=0.15, partitions=4)
    schema = compile_schema(CODE_FILE_SCHEMA)
    validated = validate_df(df, schema).cache()
    try:
        v = verdicts(validated)
        total = v.count()
        assert total == 2000
        n_bad = v.where(~F.col("ok")).count()
        # defect_rate=0.15 → roughly 300; generous determinism bounds
        assert 200 < n_bad < 400

        vio = violations(validated)
        schema_paths = {r.schema_path for r in vio.select("schema_path").distinct().collect()}
        # every injected defect class shows up with reference-shaped paths
        assert "/properties/name" in schema_paths  # missing required
        assert "/properties/size/type" in schema_paths  # uint32 range
        assert "/properties/lang/enum" in schema_paths  # enum
        # element type violations route through `ref: ident`, so the schema
        # path rebases at /definitions (reference: src/vm.rs:63-64)
        assert "/definitions/ident/type" in schema_paths
        assert "/properties/created/type" in schema_paths  # timestamp
        assert "/properties/check/discriminator/mapping" in schema_paths
        assert v.where(F.col("error") == "json_parse_error").count() > 0

        # violations only exist for failed docs
        assert vio.count() == v.agg(F.sum("n_errors")).collect()[0][0]
    finally:
        validated.unpersist()


def test_random_documents_spark_equals_kernel(spark):
    """Randomized Spark round-trip: ~2000 random instances (unicode
    strings, nested containers, numeric edges) against a multi-form
    schema must get exactly the kernel's verdict and error count through
    the full mapInArrow path — one Spark job, seeds fixed."""
    import random

    from jsl_engine.kernel import validate

    sys_schema = {
        "definitions": {"s": {"type": "string"}},
        "properties": {
            "a": {"type": "int32"},
            "b": {"elements": {"ref": "s"}},
        },
        "optionalProperties": {"c": {"enum": ["x", "y", "日本"]}},
    }
    rng = random.Random(4242)

    def rand_val(depth=2):
        r = rng.random()
        if depth == 0 or r < 0.35:
            return rng.choice(
                [None, True, False, 0, -1, 2**31, 0.5, -0.0, "", "x",
                 "日本", "a/b~c", 1e300, rng.randint(-(2**40), 2**40)]
            )
        if r < 0.6:
            return [rand_val(depth - 1) for _ in range(rng.randint(0, 3))]
        return {rng.choice(["a", "b", "c", "zz", "日"]): rand_val(depth - 1)
                for _ in range(rng.randint(0, 3))}

    docs = [rand_val() for _ in range(2000)]
    compiled = compile_schema(sys_schema)
    df = spark.createDataFrame(
        [Row(repo="r", path=str(i), commit="c",
             content=json.dumps(d, ensure_ascii=False)) for i, d in enumerate(docs)]
    )
    out = {int(r.path): r for r in validate_df(df, compiled).collect()}
    for i, d in enumerate(docs):
        errors = validate(compiled, d)
        row = out[i]
        assert row.error is None, (i, row.error)
        assert row.ok == (not errors), (i, d)
        assert row.n_errors == len(errors), (i, d)


def test_corpus_deterministic(spark):
    a = generate_corpus(spark, 500, seed=7, partitions=2).collect()
    b = generate_corpus(spark, 500, seed=7, partitions=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    c = generate_corpus(spark, 500, seed=8, partitions=2).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))


def test_deep_instance_taxonomy(spark):
    """Deep-instance parity taxonomy: by default deep valid instances
    PASS (orjson's iterative parser has no depth cap — the documented
    divergence from serde_json's 128 limit); with max_nesting=128 they
    are json_parse_error (serde parity) — and never the schema-side
    max_depth_exceeded bucket."""
    deep_200 = "[" * 200 + "1" + "]" * 200
    deep_2000 = "[" * 2000 + "1" + "]" * 2000
    df = spark.createDataFrame(
        [Row(k="d200", content=deep_200), Row(k="d2000", content=deep_2000)]
    )
    schema = compile_schema("{}")

    out = {r.k: r for r in validate_df(
        df, schema, content_col="content", key_cols=("k",)
    ).collect()}
    assert out["d200"].ok is True
    assert out["d2000"].ok is True  # the divergence, pinned

    strict = {r.k: r for r in validate_df(
        df, schema, content_col="content", key_cols=("k",), max_nesting=128
    ).collect()}
    assert strict["d200"].ok is False
    assert strict["d200"].error == "json_parse_error"
    assert strict["d2000"].error == "json_parse_error"


def test_exceeds_nesting_boundary():
    """Container-depth counting: exactly 128 levels passes, 129 fails;
    scalars are free; wide-but-shallow documents pass."""
    from jsl_engine.jsonio import exceeds_nesting

    def nested(n):
        doc = 1
        for _ in range(n):
            doc = [doc]
        return doc

    assert not exceeds_nesting(nested(128), 128)
    assert exceeds_nesting(nested(129), 128)
    assert not exceeds_nesting({"a": [1] * 10_000, "b": "x" * 1000}, 128)
    assert not exceeds_nesting("scalar", 128)
    wrapped = {"k": nested(127)}  # dict level 1 + 127 lists = 128
    assert not exceeds_nesting(wrapped, 128)
    assert exceeds_nesting({"k": nested(128)}, 128)


def test_parser_identity_assert():
    """require_parser detects a driver/executor parser mismatch; the
    resolved parser in this image is orjson."""
    from jsl_engine import jsonio

    assert jsonio.PARSER == "orjson"
    jsonio.require_parser("orjson")  # no-op when matched
    with pytest.raises(RuntimeError, match="parser mismatch"):
        jsonio.require_parser("stdlib")


def test_malformed_numbers_and_duplicate_keys_raw(spark):
    """Parse-level corners through the full Spark path (raw content, not
    the spec corpus, which holds parsed values): malformed number forms
    are json_parse_error with BOTH parsers (serde_json parity), and
    duplicate JSON keys resolve last-wins before validation."""
    from jsl_engine.jsonio import PARSE_ERROR, loads_strict, parse_document

    malformed = ["01", "1e", "-", "+1", "1.", ".5", "00.1", "0x10",
                 "[1,]", "{\"a\":1,}", "1e+", "--1"]
    for m in malformed:
        assert parse_document(m) is PARSE_ERROR, m          # orjson path
        try:                                                 # stdlib path
            loads_strict(m)
            assert False, f"stdlib accepted {m!r}"
        except (ValueError, TypeError):
            pass

    # duplicate keys: last wins in orjson, stdlib AND the reference's
    # serde_json — pinned through validation (enum only matches the
    # last-wins value)
    assert parse_document('{"a": 1, "a": 2}') == {"a": 2}
    assert loads_strict('{"a": 1, "a": 2}') == {"a": 2}
    df = spark.createDataFrame(
        [Row(k="dup", content='{"tag": "old", "tag": "new"}')]
    )
    schema = compile_schema('{"properties": {"tag": {"enum": ["new"]}}}')
    [r] = validate_df(df, schema, content_col="content", key_cols=("k",)).collect()
    assert r.ok is True


def test_validate_multi_routes_per_schema(spark):
    """Schema-registry dispatch: each route's verdicts equal the
    single-schema path run on that slice; unmapped routes hit the
    default or get error='no_schema'."""
    from pyspark.sql import Row, functions as F

    from jsl_engine.schema import compile_schema
    from jsl_engine.spark_validate import validate_df, validate_multi

    rows = []
    for i in range(120):
        lang = ["py", "js", "go", "rs"][i % 4]
        rows.append(Row(repo="r", path=f"f{i}", commit="c", lang=lang,
                        content=f'{{"k": {i * 3}}}'))
    rows.append(Row(repo="r", path="bad", commit="c", lang="py",
                    content="{not json"))
    df = spark.createDataFrame(rows)

    schemas = {
        "py": compile_schema({"properties": {"k": {"type": "uint8"}}}),
        "js": compile_schema({"properties": {"k": {"type": "string"}}}),
        "go": compile_schema({}),
    }
    default = compile_schema({"properties": {"k": {"type": "uint32"}}})

    out = validate_multi(df, schemas, route_col="lang", default=default)
    got = {(r.path): (r.schema_key, r.ok, r.n_errors, r.error)
           for r in out.collect()}
    assert len(got) == 121

    # each route slice equals the single-schema path on that slice
    for lang, schema in {**schemas, "rs": default}.items():
        single = {r.path: (r.ok, r.n_errors, r.error)
                  for r in validate_df(
                      df.where(F.col("lang") == lang), schema
                  ).collect()}
        for path, (key, ok, n, err) in got.items():
            if key == lang:
                assert (ok, n, err) == single[path], (lang, path)

    # sanity on the semantics: js schema rejects integer k everywhere;
    # go accepts everything; py rejects k > 255; parse errors classified
    assert all(not got[f"f{i}"][1] for i in range(120) if i % 4 == 1)
    assert all(got[f"f{i}"][1] for i in range(120) if i % 4 == 2)
    assert got["f88"][1] is False and got["f88"][0] == "py"  # 264 > uint8
    assert got["bad"] == ("py", False, 0, "json_parse_error")

    # without a default, unmapped routes get no_schema
    nod = validate_multi(df, schemas, route_col="lang")
    rs = [r for r in nod.collect() if r.schema_key == "rs"]
    assert rs and all(
        (not r.ok) and r.error == "no_schema" and r.n_errors == 0 for r in rs
    )

    # a frame on ONE mapped route equals the single-schema path on that
    # schema
    py = df.where(F.col("lang") == "py")
    one = validate_multi(py, schemas, route_col="lang")
    assert [r.schema_key for r in one.collect()] == ["py"] * 31
    assert sorted(map(repr, one.drop("schema_key").collect())) == sorted(
        map(repr, validate_df(py, schemas["py"]).collect())
    )

    # validate_df is the no-registry case of validate_multi: every row on
    # the default, column for column once schema_key is dropped
    single = validate_df(df, default)
    via_multi = validate_multi(df, {}, route_col="lang", default=default)
    assert via_multi.drop("schema_key").columns == single.columns
    assert sorted(map(repr, via_multi.drop("schema_key").collect())) == sorted(
        map(repr, single.collect())
    )
    with pytest.raises(ValueError, match="route_col"):
        validate_multi(df, schemas, route_col=None)


def test_validate_df_curate_single_pass_and_matches_standalone(spark, tmp_path):
    """The fused pass must (a) execute as ONE stage — one parquet scan,
    zero joins, zero Exchanges — and (b) produce per-column output
    identical to each standalone operator (the fusion chains the real
    scorers through keep_cols; there is no fused copy to drift)."""
    from pyspark.sql import Row

    from jsl_engine.code_ops import license_scan
    from jsl_engine.redaction import secret_scan
    from jsl_engine.text_ops import language_id, quality_score

    rows = []
    for i in range(200):
        text = ("the quick brown fox " * 10 + f"doc{i}. "
                + ("contact admin@example.com " if i % 7 == 0 else "")
                + ("Licensed under the Apache License, Version 2.0 "
                   "(the License); you may not use this file except "
                   "in compliance. " if i % 5 == 0 else ""))
        content = '{"k": %d}' % i if i % 3 else '{"k": "bad"}'
        rows.append(Row(doc_id=i, text=text, content=content))
    src = str(tmp_path / "fuse_src")
    spark.createDataFrame(rows).write.parquet(src)
    df = spark.read.parquet(src)

    schema = compile_schema({"properties": {"k": {"type": "uint32"}}})
    fused = validate_df(
        df, schema, key_cols=("doc_id",), curate=True
    ).drop("violations")
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan

    got = {r.doc_id: r for r in fused.collect()}
    assert len(got) == 200
    q = {r.doc_id: r.quality for r in quality_score(df).collect()}
    l = {r.doc_id: r.lang_id for r in language_id(df).collect()}
    s = {r.doc_id: r.n_secrets for r in secret_scan(df).collect()}
    lic = {r.doc_id: r.license for r in license_scan(df).collect()}
    v = {r.doc_id: (r.ok, r.n_errors, r.error, r.content_sha256)
         for r in validate_df(df, schema, key_cols=("doc_id",)).collect()}
    for i, r in got.items():
        assert r.quality == q[i]
        assert r.lang_id == l[i]
        assert r.n_secrets == s[i]
        assert r.license == lic[i]
        assert (r.ok, r.n_errors, r.error, r.content_sha256) == v[i]
    assert any(r.n_secrets > 0 for r in got.values())
    assert any(r.license == "apache-2.0" for r in got.values())
    assert any(not r.ok for r in got.values())


def test_validation_job_curate_flag(spark, tmp_path):
    """run_validation_job(curate=True) writes the curation columns into
    the validated sink with identical verdict totals to the plain job —
    the fused pass changes what one scan computes, not what it means."""
    from jsl_engine.corpus import CODE_FILE_SCHEMA, generate_corpus
    from jsl_engine.manifest import run_validation_job

    source = generate_corpus(spark, 800, seed=13, defect_rate=0.1, partitions=4)
    schema = compile_schema(CODE_FILE_SCHEMA)
    out_plain = str(tmp_path / "plain")
    out_cur = str(tmp_path / "curated")
    s1 = run_validation_job(spark, source, schema, output_root=out_plain)
    s2 = run_validation_job(spark, source, schema, output_root=out_cur,
                            curate=True)
    assert s1["docs"] == s2["docs"] == 800

    plain = spark.read.parquet(f"{out_plain}/validated")
    cur = spark.read.parquet(f"{out_cur}/validated")
    for c in ("quality", "lang_id", "n_secrets", "license"):
        assert c in cur.columns and c not in plain.columns
    a = {tuple(r) for r in plain.select("repo", "path", "commit", "ok",
                                        "n_errors", "content_sha256").collect()}
    b = {tuple(r) for r in cur.select("repo", "path", "commit", "ok",
                                      "n_errors", "content_sha256").collect()}
    assert a == b


def test_validate_multi_curate_single_pass_and_matches_surfaces(spark, tmp_path):
    """The registry+curation composition (round 5) must (a) stay ONE
    stage — one parquet scan, zero joins, zero Exchanges — and (b) equal
    the two existing surfaces column-for-column: verdicts+schema_key ==
    validate_multi alone, riders == the standalone scorers (the fusion
    chains the real operators through keep_cols)."""
    from pyspark.sql import Row

    from jsl_engine.redaction import secret_scan
    from jsl_engine.spark_validate import validate_multi
    from jsl_engine.text_ops import language_id, quality_score

    langs = ["python", "java", "js"]  # js is unmapped -> no_schema
    rows = []
    for i in range(120):
        text = ("the quick brown fox " * 8 + f"doc{i}. "
                + ("contact admin@example.com " if i % 7 == 0 else ""))
        content = '{"k": %d}' % i if i % 3 else '{"k": "bad"}'
        rows.append(Row(doc_id=i, lang=langs[i % 3], text=text, content=content))
    src = str(tmp_path / "multi_fuse_src")
    spark.createDataFrame(rows).write.parquet(src)
    df = spark.read.parquet(src)

    strict = compile_schema({"properties": {"k": {"type": "uint32"}}})
    lax = compile_schema({})
    registry = {"python": strict, "java": lax}

    fused = validate_multi(
        df, registry, route_col="lang", key_cols=("doc_id",), curate=True
    ).drop("violations")
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan

    got = {r.doc_id: r for r in fused.collect()}
    assert len(got) == 120

    vm = {
        r.doc_id: (r.schema_key, r.ok, r.n_errors, r.error, r.content_sha256)
        for r in validate_multi(
            df, registry, route_col="lang", key_cols=("doc_id",)
        ).collect()
    }
    q = {r.doc_id: r.quality for r in quality_score(df).collect()}
    l = {r.doc_id: r.lang_id for r in language_id(df).collect()}
    s = {r.doc_id: r.n_secrets for r in secret_scan(df).collect()}
    for i, r in got.items():
        assert (r.schema_key, r.ok, r.n_errors, r.error, r.content_sha256) == vm[i]
        assert r.quality == q[i]
        assert r.lang_id == l[i]
        assert r.n_secrets == s[i]
    # every surface is exercised: strict failures, lax passes, no_schema
    assert any(r.error == "no_schema" for r in got.values())
    assert any(not r.ok and r.schema_key == "python" for r in got.values())
    assert all(r.ok for r in got.values() if r.schema_key == "java")
    assert any(r.n_secrets > 0 for r in got.values())


def test_validation_job_schemas_and_curate_compose(spark, tmp_path):
    """run_validation_job(schemas=..., curate=True): the registry job's
    validated sink gains the rider columns with identical verdict totals
    and the same per-route manifest detail rows as the plain registry
    job — and the curate flag is part of the resume identity."""
    from jsl_engine.corpus import CODE_FILE_SCHEMA, generate_corpus
    from jsl_engine.manifest import run_validation_job

    source = generate_corpus(spark, 600, seed=17, defect_rate=0.1, partitions=4)
    schema = compile_schema(CODE_FILE_SCHEMA)
    lax = compile_schema({})
    registry = {"python": schema, "rust": schema, "go": schema,
                "java": lax, "c": lax}

    out_plain = str(tmp_path / "reg_plain")
    out_cur = str(tmp_path / "reg_curated")
    s1 = run_validation_job(
        spark, source, None, output_root=out_plain,
        schemas=registry, route_col="lang", default_schema=schema,
    )
    s2 = run_validation_job(
        spark, source, None, output_root=out_cur,
        schemas=registry, route_col="lang", default_schema=schema,
        curate=True,
    )
    assert s1["docs"] == s2["docs"] == 600

    plain = spark.read.parquet(f"{out_plain}/validated")
    cur = spark.read.parquet(f"{out_cur}/validated")
    for c in ("quality", "lang_id", "n_secrets", "license"):
        assert c in cur.columns and c not in plain.columns
    a = {tuple(r) for r in plain.select("repo", "path", "commit", "schema_key",
                                        "ok", "n_errors",
                                        "content_sha256").collect()}
    b = {tuple(r) for r in cur.select("repo", "path", "commit", "schema_key",
                                      "ok", "n_errors",
                                      "content_sha256").collect()}
    assert a == b

    # resume identity: rerunning the composed job over the same root is
    # a no-op (same fingerprint), while the plain registry job sees a
    # DIFFERENT fingerprint (the +curate marker) and would start fresh
    s3 = run_validation_job(
        spark, source, None, output_root=out_cur,
        schemas=registry, route_col="lang", default_schema=schema,
        curate=True,
    )
    assert s3["partitions_pending"] == 0 and s3["docs"] == 0

    # per-route detail rows survive the composition
    man = spark.read.parquet(f"{out_cur}/manifest")
    routes = {r.schema_key for r in man.select("schema_key").collect()}
    assert None in routes  # summary rows
    assert {"python", "rust", "go", "java", "c"} <= {
        r for r in routes if r is not None
    }


def test_validate_multi_null_route(spark):
    """A NULL route value is just an unmapped route: it takes the
    default schema when one is given, else ok=false /
    error='no_schema' — it must never crash the dispatch kernel or
    vanish from the output (one verdict row per input row, always)."""
    from pyspark.sql import functions as F

    from jsl_engine.schema import compile_schema
    from jsl_engine.spark_validate import validate_multi

    df = spark.createDataFrame(
        [("r", "a", "c", "py", '{"k": 1}'),
         ("r", "b", "c", None, '{"k": 2}'),
         ("r", "d", "c", None, '{"k": -1}')],
        "repo string, path string, commit string, lang string, content string",
    )
    schemas = {"py": compile_schema({"properties": {"k": {"type": "uint8"}}})}

    out = {r.path: r for r in validate_multi(
        df, schemas, route_col="lang", key_cols=("repo", "path", "commit"),
    ).collect()}
    assert len(out) == 3
    assert out["a"].ok is True
    assert out["b"].ok is False and out["b"].error == "no_schema"
    assert out["d"].error == "no_schema"

    default = compile_schema({"properties": {"k": {"type": "uint32"}}})
    out2 = {r.path: r for r in validate_multi(
        df, schemas, route_col="lang", key_cols=("repo", "path", "commit"),
        default=default,
    ).collect()}
    assert out2["b"].ok is True and out2["b"].error is None
    assert out2["d"].ok is False and out2["d"].n_errors == 1  # -1 < uint32
    assert out2["b"].schema_key is None  # NULL route surfaces as NULL key

    # a frame whose every row is NULL-routed, without and with a default
    nulls = df.where(F.col("lang").isNull())
    out3 = {r.path: r for r in validate_multi(
        nulls, schemas, route_col="lang", key_cols=("repo", "path", "commit"),
    ).collect()}
    assert sorted(out3) == ["b", "d"]
    assert all(not r.ok and r.error == "no_schema" and r.n_errors == 0
               and r.schema_key is None for r in out3.values())
    out4 = {r.path: r for r in validate_multi(
        nulls, schemas, route_col="lang", key_cols=("repo", "path", "commit"),
        default=default,
    ).collect()}
    assert out4["b"].ok is True and out4["b"].error is None
    assert out4["d"].ok is False and out4["d"].n_errors == 1

    # a frame whose every row is on one unmapped route, no default
    unmapped = df.withColumn("lang", F.lit("zz"))
    out5 = validate_multi(
        unmapped, schemas, route_col="lang", key_cols=("repo", "path", "commit"),
    ).collect()
    assert len(out5) == 3 and all(
        not r.ok and r.error == "no_schema" and r.n_errors == 0
        and r.violations is None and r.schema_key == "zz"
        and r.content_sha256 is not None for r in out5
    )
