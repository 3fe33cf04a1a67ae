"""Arrow (numpy) language-id kernel — the engine's production language
ID: the fused curation pass (``validate_df(..., curate=True)``) and
``jobs/curate_job.py --langs`` run it.

The JVM operator :func:`jsl_engine.text_ops.language_id` costs ~0.31
core-ms/doc (8 script-class ``regexp_count`` passes + 27
``array_intersect`` marker votes per document, BENCH/ANALYSIS.md round
4); it stays as this kernel's independent reference and as the
``language_id_documents`` query. This kernel replaces all of it with
table lookups over a code-point array: one ``np.bincount`` gives every
script count at once, letter/mark token boundaries come from a boolean
table, and marker votes are Python set intersections against 16-word
sets.

Exact-parity contract: the script / letter-mark tables and the
lowercase map in :mod:`jsl_engine._uniprops` are **extracted from the
running JVM** (tools/gen_uniprops.py sweeps every code point through the
JVM regex engine and Spark ``lower()``), so the two engines share one
Unicode truth by construction; the decision chain below replicates the
JVM expression chain case-for-case and is pinned equal on per-language
fixtures, edge cases and the real corpus in ``tests/test_lang_arrow.py``.
One documented divergence class: Java lowercases the Greek final sigma
context-sensitively while the per-code-point map cannot — harmless,
because Greek-script characters can only influence the verdict through
the script-count branch (marker sets are Latin/Cyrillic only), and
script counts are computed on the ORIGINAL text.

Reference context: engine-level addition (the reference validates
single documents; reference scope src/lib.rs:114-118).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from jsl_engine.partitioning import fan_out
from jsl_engine.text_ops import (
    _CYRILLIC_MARKERS,
    _LATIN_MARKERS,
    _SCRIPT_CLASSES,
)

#: ASCII whitespace, the JVM regex ``\s`` (no UNICODE_CHARACTER_CLASS).
_ASCII_WS = (9, 10, 11, 12, 13, 32)

_TABLES: dict | None = None


def _tables() -> dict:
    """Lazy per-process lookup tables (~3.5 MB once per executor)."""
    global _TABLES
    if _TABLES is None:
        from jsl_engine import _uniprops as U

        n = 0x110000
        script_id = np.zeros(n, dtype=np.uint8)  # 0 = no script class
        order = []
        for idx, (lang, _cls) in enumerate(_SCRIPT_CLASSES, start=1):
            name = lang.strip("_").upper() + "_RANGES"
            for lo, hi in getattr(U, name):
                script_id[lo:hi + 1] = idx
            order.append(lang)
        lm = np.zeros(n, dtype=bool)
        for lo, hi in U.LM_RANGES:
            lm[lo:hi + 1] = True
        non_ws = np.ones(n, dtype=bool)
        for c in _ASCII_WS:
            non_ws[c] = False
        latin = {k: frozenset(v) for k, v in _LATIN_MARKERS.items()}
        cyr = {k: frozenset(v) for k, v in _CYRILLIC_MARKERS.items()}
        _TABLES = {
            "script_id": script_id,
            "lm": lm,
            "non_ws": non_ws,
            "lower": U.LOWER_MAP,
            "order": order,
            "latin": latin,
            "cyr": cyr,
            # one big intersection against the whole marker vocabulary
            # first, then 27 tiny per-language intersections — O(tokens)
            # instead of O(27 × tokens)
            "latin_vocab": frozenset().union(*latin.values()),
            "cyr_vocab": frozenset().union(*cyr.values()),
        }
    return _TABLES


def _best(token_set: frozenset, markers: dict) -> tuple[int, str]:
    """(hits, lang) argmax with the JVM struct-ordering tie-break:
    max hits, then lexicographically larger lang code."""
    return max((len(token_set & words), lang) for lang, words in markers.items())


def classify_text(text: str) -> tuple[str, int]:
    """(lang_id, marker_hits) for one document — the exact decision
    chain of the JVM operator."""
    t = _tables()
    cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    counts = np.bincount(t["script_id"][cp], minlength=len(t["order"]) + 1)
    nchars = int(t["non_ws"][cp].sum())

    # ASCII text: Python str.lower() equals the JVM map; otherwise route
    # through the JVM-extracted translate table
    lowered = text.lower() if text.isascii() else text.translate(t["lower"])
    cp2 = np.frombuffer(lowered.encode("utf-32-le"), dtype=np.uint32)
    mask = t["lm"][cp2]
    # maximal letter/mark runs = tokens (the two-regex normalize chain
    # reduces to exactly this, see module docstring)
    edges = np.flatnonzero(np.diff(np.concatenate(([False], mask, [False]))))
    tokens = frozenset(
        lowered[edges[i]:edges[i + 1]] for i in range(0, len(edges), 2)
    )

    for idx, lang in enumerate(t["order"], start=1):
        c = int(counts[idx])
        if c >= 3 and c * 10 >= nchars:
            if lang == "__cyr":
                hits, best_lang = _best(tokens & t["cyr_vocab"], t["cyr"])
                return (best_lang if hits > 0 else "und"), hits
            return lang, c
    hits, best_lang = _best(tokens & t["latin_vocab"], t["latin"])
    return (best_lang if hits > 0 else "und"), hits


def language_id_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    keep_cols: tuple[str, ...] = (),
    balance: bool = True,
) -> DataFrame:
    """Same contract as :func:`jsl_engine.text_ops.language_id` —
    output ``(id_col, lang_id, marker_hits, *keep_cols)`` — on one
    map-only Arrow pass (zero joins, zero shuffles, no regex at all).
    NULL text classifies as ``('und', 0)`` (the JVM operator yields
    ``('und', NULL)`` there; pinned in the parity test — documents with
    NULL content are upstream-filtered in every composed job)."""
    pruned = df.select(id_col, text_col, *keep_cols)
    if balance:
        pruned = fan_out(pruned)
    out_schema = StructType(
        [
            pruned.schema[id_col],
            StructField("lang_id", StringType(), False),
            StructField("marker_hits", IntegerType(), False),
            *[pruned.schema[c] for c in keep_cols],
        ]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = batch.num_rows
            if rows == 0:
                continue
            texts = batch.column(1).to_pylist()
            langs = np.empty(rows, dtype=object)
            hits = np.empty(rows, dtype=np.int32)
            for i, txt in enumerate(texts):
                langs[i], hits[i] = classify_text(txt) if txt else ("und", 0)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(list(langs), type=pa.string()),
                    pa.array(hits, type=pa.int32()),
                    *[batch.column(2 + j) for j in range(len(keep_cols))],
                ],
                names=[batch.schema.field(0).name, "lang_id", "marker_hits",
                       *keep_cols],
            )

    return pruned.mapInArrow(run, out_schema)
