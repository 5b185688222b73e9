"""Reach guard: every module-level name in the package has a reader.

Parses (never imports) each module under ``watermark_detector_spark/``
and checks that every module-level def, class or constant is loaded by
name somewhere in the package, ``__spark_entry__.py``, ``jobs/``,
``bench.py``, ``bench_extra.py`` or ``perfbench/`` — outside its own
definition. Tests do not count as readers: code that only its own test
reaches is dead weight. Runs without Spark.

A load is a ``Name`` read, an attribute access, a name bound by an
import that is then read under that binding, or a string constant that
is exactly the name or a dotted path through it (``perfbench/`` wraps
engine functions by attribute-name strings).
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "watermark_detector_spark"
READERS = [PACKAGE, ROOT / "__spark_entry__.py", ROOT / "jobs", ROOT / "bench.py",
           ROOT / "bench_extra.py", ROOT / "perfbench"]

# The only names allowed without a reader, each with its reason.
ALLOWED = {
    "read_pages_iceberg": "the north star's Iceberg input; needs a jar this repo does not ship",
    "salted_join": "the only skew join",
    "cosine_pairs_expr": "pure-expression reference that the block-GEMM cosine test compares against",
    "bm25_score_py": "pure-Python reference for the BM25 test",
    "_MAIN_RX": "regex reference for the str.find <main> extraction test",
    "_BODY_RX": "regex reference for the str.find <body> extraction test",
    "extract_text_udf": "the Spark seam for the byte-identity extraction test",
    "generate": "the fixture generator every Spark test builds its inputs with",
    "SIGNATURES_SCHEMA": "the signature table's schema; a file stream needs it to read signatures",
    "join_signatures_broadcast": "the only stream-static signature join",
    "join_signatures_stream_stream": "the only stream-stream signature join (validity windows)",
}


def _files(paths):
    for p in paths:
        if p.is_dir():
            yield from sorted(p.rglob("*.py"))
        elif p.exists():
            yield p


def _defined(stmts):
    """Names of the module-level defs, classes and constants among
    ``stmts``, looking through module-level if/try/with blocks."""
    for st in stmts:
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield st.name
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            yield from (n.id for t in targets for n in ast.walk(t)
                        if isinstance(n, ast.Name))
        elif isinstance(st, (ast.If, ast.Try, ast.With)):
            for field in ("body", "orelse", "finalbody"):
                yield from _defined(getattr(st, field, []))
            for h in getattr(st, "handlers", []):
                yield from _defined(h.body)


def _loads(node: ast.AST, aliases: dict[str, str]):
    """Names that ``node`` reads."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            yield aliases.get(n.id, n.id)
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            parts = n.value.split(".")
            if all(p.isidentifier() for p in parts):
                yield from parts


def _definitions_and_loads():
    defs = {}  # name -> files defining it
    for f in _files([PACKAGE]):
        for name in _defined(ast.parse(f.read_text(), str(f)).body):
            if not (name.startswith("__") and name.endswith("__")):
                defs.setdefault(name, set()).add(str(f.relative_to(ROOT)))
    reached = set()
    for f in _files(READERS):
        tree = ast.parse(f.read_text(), str(f))
        aliases = {a.asname: a.name for n in ast.walk(tree)
                   if isinstance(n, (ast.Import, ast.ImportFrom))
                   for a in n.names if a.asname}
        for st in tree.body:
            # a definition's own body (recursion, a constant built from
            # itself) does not reach it
            reached |= set(_loads(st, aliases)) - set(_defined([st]))
    return defs, reached


def test_every_package_name_has_a_reader():
    defs, reached = _definitions_and_loads()
    unreached = {n: sorted(fs) for n, fs in defs.items()
                 if n not in reached and n not in ALLOWED}
    assert not unreached, (
        "module-level names with no reader outside tests (delete them, or add "
        f"them to ALLOWED with a reason): {unreached}")
    assert set(ALLOWED) <= set(defs), f"stale ALLOWED entries: {set(ALLOWED) - set(defs)}"
