"""Seeded benchmark inputs, built inside the work directory.

Everything here is input preparation: it runs before set-up is timed and
is cached under a path keyed by every parameter that changes the bytes
(rows, defect rate, seed), so two seeds never share an input and a
changed size never reuses a stale one.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from jsl_engine.corpus import LANGS, SCHEMA, _rng, make_row

CORPUS_SCHEMA = pa.schema([pa.field(f.name, pa.string(), nullable=False) for f in SCHEMA])

# ---------------------------------------------------------------------------
# validation-job corpus
# ---------------------------------------------------------------------------

#: Routes the registry job validates with the empty (accept-all) schema;
#: mirrors the ``jobs/validate_job.py --schemas`` map.
LAX_ROUTES = ("java", "c")
STRICT_ROUTES = ("python", "rust", "go")

#: Defect class 6 of ``corpus.make_row`` truncates the document.
PARSE_DEFECT = 6


def corpus_dir(work: str, rows: int, defect_rate: float, seed: int) -> str:
    return os.path.join(work, "corpus", f"rows={rows}_rate={defect_rate}_seed={seed}")


def ensure_corpus(work: str, rows: int, defect_rate: float, seed: int,
                  files: int) -> str:
    """Write the corpus once per key: ``files`` parquet files of contiguous
    row ids, the rows ``corpus.generate_corpus`` yields (both call
    ``corpus.make_row``). It is built without Spark, so the measuring JVM
    starts in the same state whether or not the corpus came from the
    cache."""
    path = corpus_dir(work, rows, defect_rate, seed)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        os.makedirs(path, exist_ok=True)
        bounds = [rows * k // files for k in range(files + 1)]
        for start, stop in zip(bounds, bounds[1:]):
            cols = zip(*(make_row(i, seed, defect_rate) for i in range(start, stop)))
            pq.write_table(
                pa.table([pa.array(c, pa.string()) for c in cols], schema=CORPUS_SCHEMA),
                os.path.join(path, f"part-{start:010d}.parquet"),
            )
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def defect_plan(i: int, seed: int, defect_rate: float) -> "tuple[str, int | None]":
    """``(lang, defect class or None)`` of corpus row ``i``, read from the
    same counter-based draws ``corpus.make_row`` uses — independent of the
    validation engine."""
    lang = LANGS[int(_rng(seed, i * 7 + 1) * len(LANGS))]
    if _rng(seed, i * 7 + 5) < defect_rate:
        return lang, int(_rng(seed, i * 7 + 6) * 7)
    return lang, None


def expected_totals(rows: int, defect_rate: float, seed: int) -> dict:
    """Per-(lang, defect class) row counts of the corpus, counted from the
    defect plan (class -1 = no defect)."""
    totals: dict[str, int] = {}
    for i in range(rows):
        lang, defect = defect_plan(i, seed, defect_rate)
        key = f"{lang}:{-1 if defect is None else defect}"
        totals[key] = totals.get(key, 0) + 1
    return totals


def expected_job_totals(totals: dict, registry: bool) -> dict:
    """Manifest totals the job must report. Every non-parse defect is one
    violation on a strict route; lax routes pass them; a truncated
    document is one parse error on every route."""
    docs = ok = parse = vio = 0
    for key, n in totals.items():
        lang, defect = key.split(":")
        defect = int(defect)
        docs += n
        lax = registry and lang in LAX_ROUTES
        if defect == PARSE_DEFECT:
            parse += n
        elif defect >= 0 and not lax:
            vio += n
        else:
            ok += n
    return {"docs": docs, "docs_ok": ok, "n_parse_errors": parse,
            "n_violations": vio}


# ---------------------------------------------------------------------------
# query-suite tables
# ---------------------------------------------------------------------------

#: Row counts per table. ``documents`` and ``embeddings`` have the row
#: counts of the repository's sf0.1 testdata (read from its parquet
#: metadata), and with ``DUP_RATE`` and unit-norm gaussian embeddings the
#: dedup queries get sf0.1 traffic: 256 verified minhash pairs (sf0.1:
#: 256) and 1.3k-1.4k embedding pairs (sf0.1: 1301), counted by their
#: oracles. Every other table has 1/10 of its sf0.1 row count (sf0.01),
#: which keeps a run within its time budget; the validation and
#: uniqueness queries then return 1/10 of their sf0.1 rows.
SUITE_ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 5_000, "embeddings": 2_000,
}

#: Share of documents that copy another one plus a word, each a different
#: one: sf0.1 has 256 verified minhash pairs among its 5000 documents.
DUP_RATE = 256 / 5000

WORDS = (
    "a the key value row column table data part join agg group order sort "
    "hash scan filter merge window batch stream vector query spark line "
    "customer big small fast slow"
).split()

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_LANGS = ["de", "en", "es", "fr", "zh"]


def suite_dir(work: str, seed: int, scale: float) -> str:
    return os.path.join(work, "suite", f"scale={scale}_seed={seed}")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: datetime, end: datetime, n: int) -> np.ndarray:
    span = (end - start).days
    return np.datetime64(start, "us") + rng.integers(0, span + 1, n).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")


def _suite_tables(seed: int, scale: float) -> "dict[str, pa.Table]":
    """The ten tables the query registry reads, in the shape of the
    repository's testdata (TPC-H-like star schema, an event stream, a
    word-salad document table with ``DUP_RATE`` near-duplicates, unit-norm 64-d
    embeddings), at ``scale`` times ``SUITE_ROWS``."""
    rng = np.random.default_rng(seed)
    n = {t: max(int(rows * scale), 1) for t, rows in SUITE_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PTYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), no),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), nl),
    })
    ne = n["events"]
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64(datetime(2024, 1, 1), "us")
                       + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(ne // 66, 1), ne),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    n_dup = round(nd * DUP_RATE)
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
             for _ in range(nd - n_dup)]
    texts += [texts[j] + " dup" for j in rng.choice(nd - n_dup, n_dup, replace=False)]
    texts = [texts[j] for j in rng.permutation(nd)]
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_DOC_LANGS, nd, p=[0.15, 0.4, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return t


def ensure_suite_tables(work: str, seed: int, scale: float = 1.0) -> str:
    """Write the seeded suite tables as single-row-group parquet files (the
    testdata layout: one scan split per table)."""
    path = suite_dir(work, seed, scale)
    done = os.path.join(path, "_SUCCESS")
    if not os.path.exists(done):
        os.makedirs(path, exist_ok=True)
        for name, table in _suite_tables(seed, scale).items():
            pq.write_table(table, os.path.join(path, f"{name}.parquet"),
                           row_group_size=1 << 30)
        open(done, "w").close()
    return path


def dir_bytes(path: str) -> "tuple[int, int]":
    """``(files, bytes)`` of the data files under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size

