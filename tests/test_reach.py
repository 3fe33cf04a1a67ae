"""Reach guard: every public top-level function and class in
``jsl_engine/`` is referenced by code outside ``tests/`` (a query, job,
tool, benchmark or another engine function), or is listed below with the
reason it stays. Code that only tests reach is how twins accumulate.

A reference is a ``Name``, an ``Attribute`` or an import alias whose last
component matches the definition's name; docstrings and comments do not
count, and neither does a function's reference to itself. Matching is by
bare name, so a same-named definition elsewhere can mask a dead one —
the guard errs towards passing, never towards a false failure. Pure AST:
no Spark session.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: Public names no code outside tests reaches, each with why it stays.
ALLOWED_UNREACHED = {
    "corpus.generate_commits_dim": "RI dimension fixture for the synthetic corpus (FIXTURES.md §1)",
    "manifest.global_distinct_docs": "library API: global distinct over the manifest's per-partition HLL sketches",
    "multimodal.resize_images": "media feature surface (library API)",
    "multimodal.sample_frames": "media feature surface (library API)",
    "partitioning.write_bucketed": "storage-side co-location for repeated joins (library API, plan-gated)",
    "pq.train_pq_codebooks_distributed": "the 10^12-vector PQ trainer; no local-scale run needs it (docs/DESIGN.md)",
    "quality_model.model_quality_filter": "quality-model feature surface (library API)",
    "quality_model.train_quality_model": "quality-model feature surface (library API)",
    "sources.load_corpus": "corpus source feature surface (library API)",
    "sources.write_corpus": "corpus source feature surface (library API)",
    "streaming.dedup_stream": "streaming feature surface (library API)",
    "streaming.dedup_stream_watermarked": "streaming feature surface (library API)",
    "streaming.embedding_near_dup_stream": "streaming feature surface (library API)",
    "streaming.near_dup_stream": "streaming feature surface (library API)",
    "streaming.read_corpus_stream": "streaming feature surface (library API)",
    "streaming.session_stats_stream": "streaming feature surface (library API)",
    "streaming.streaming_histogram_drift": "streaming feature surface (library API)",
    "streaming.streaming_verdict_counts": "streaming feature surface (library API)",
    "streaming.validate_stream": "streaming feature surface (library API)",
    "streaming.windowed_verdict_counts": "streaming feature surface (library API)",
    "suite.run_quality_suite": "one-call quality-suite feature surface (library API)",
    "text_ops.ngram_jaccard": "reference of the verified-Jaccard parity test",
    "text_ops.duplicate_spans": "exact-string reference the span parity test holds duplicate_spans_arrow's hashed kernel against",
}


def _public_defs(root: Path = ROOT) -> set[str]:
    out = set()
    for f in sorted((root / "jsl_engine").glob("*.py")):
        for node in ast.parse(f.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                out.add(f"{f.stem}.{node.name}")
    return out


def _references(root: Path = ROOT) -> set[str]:
    refs: set[str] = set()

    def visit(node: ast.AST, own: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                # a top-level definition's own body does not reach it
                visit(child, child.name if isinstance(node, ast.Module) else own)
                continue
            if isinstance(child, ast.Name):
                name = child.id
            elif isinstance(child, ast.Attribute):
                name = child.attr
            elif isinstance(child, ast.alias):
                name = child.name.split(".")[-1]
            else:
                name = None
            if name is not None and name != own:
                refs.add(name)
            visit(child, own)

    for f in root.rglob("*.py"):
        parts = f.relative_to(root).parts
        if parts[0] == "tests" or any(p.startswith(".") for p in parts):
            continue
        visit(ast.parse(f.read_text()), None)
    return refs


def _unreached(root: Path = ROOT) -> set[str]:
    refs = _references(root)
    return {d for d in _public_defs(root) if d.split(".", 1)[1] not in refs}


def test_every_public_engine_name_is_reached_or_allowed():
    unreached = _unreached()
    missing = sorted(unreached - set(ALLOWED_UNREACHED))
    assert not missing, (
        "public names only tests reach — delete them, or add them to "
        f"ALLOWED_UNREACHED with a reason: {missing}"
    )
    stale = sorted(set(ALLOWED_UNREACHED) - unreached)
    assert not stale, f"allowlist entries now reached or gone: {stale}"


def _tree(root: Path, files: dict[str, str]) -> Path:
    for rel, text in files.items():
        f = root / rel
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_text(text)
    return root


def test_reach_guard_flags_a_name_only_tests_reach(tmp_path):
    """The guard can fail: a public engine function and class that only
    a test uses are unreached, while one a job imports, one another
    engine function calls, and a private helper are not."""
    root = _tree(tmp_path, {
        "jsl_engine/mod.py": (
            "def live():\n    return _helper()\n\n"
            "def inner():\n    return 1\n\n"
            "def outer():\n    return inner()\n\n"
            "def dead():\n    return 2\n\n"
            "def _helper():\n    return 3\n\n"
            "class Dead:\n    pass\n"
        ),
        "jobs/job.py": "from jsl_engine.mod import live, outer\nlive(); outer()\n",
        "tests/test_mod.py": (
            "from jsl_engine.mod import dead, Dead\n"
            "def test_dead():\n    assert dead() == 2 and Dead()\n"
        ),
    })
    assert _unreached(root) == {"mod.dead", "mod.Dead"}


def test_reach_guard_ignores_self_reference_docstrings_and_hidden_dirs(tmp_path):
    """What does not count as a reach: a recursive call to itself, the
    name in a docstring or a comment, and code under a dot-directory.
    A module-alias attribute call from a tool does count."""
    root = _tree(tmp_path, {
        "jsl_engine/mod.py": (
            "def walk(n):\n"
            '    """Calls walk on n - 1."""\n'
            "    return walk(n - 1) if n else 0  # walk\n"
        ),
        "tools/notes_tool.py": '"""uses walk"""\n# walk(3)\n',
        ".scratch/probe.py": "from jsl_engine.mod import walk\nwalk(3)\n",
    })
    assert _unreached(root) == {"mod.walk"}
    _tree(root, {"tools/real_tool.py": "import jsl_engine.mod as m\nm.walk(3)\n"})
    assert _unreached(root) == set()
