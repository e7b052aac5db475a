"""Every top-level def in the package is reached, or kept with a reason.

A name-based ``ast`` call graph over the package, rooted at:

- the ``@query`` functions of the registry;
- module-level statements (including ``__all__`` names, decorators,
  base classes and default values, which run at import);
- ``pipelines/*`` and ``timeseries.forecast.prophet_fitter``, the
  reference's four ETL jobs;
- ``__spark_entry__.py``, ``bench.py`` and ``perfbench/`` (their names
  and string constants, since perfbench wraps engine functions by name).

An edge goes from a def to every top-level def whose name appears in its
body as a name or an attribute. Names are not resolved through imports,
so the graph over-approximates what runs: a def it leaves unreached is
called by nothing but tests. The test fails when that set differs from
``KEPT_UNREACHED``: delete new unreached code, or add it there with the
reason it stays. No Spark session is started.

The same parse checks two rules the package keeps: no ``assert``
statement (``python -O`` strips it, and the guard with it), and
construction-time scratch dirs and stream drains have one owner,
``plans/registry.py`` (``scratch_dir`` and ``drain``): ``tempfile`` and
``.awaitTermination(`` appear nowhere else. And each piece of oracle SQL
is written once: no 8 consecutive lines appear in two string literals
of ``plans/*.py`` (a fragment two oracles share is one definition that
both build from, see ``plans/fragments.py``).
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "pyspark_bigdata_sars_cov_2_analysis_spark"

_DEDUP_WRAPPER = (
    "public wrapper over dedup._CheckpointKind, the band and chunk "
    "checkpoint surface d19/d20/d22 reach through its other wrappers; "
    "the checkpoint tests drive the state through it"
)

KEPT_UNREACHED = {
    "functions.text.word_occurrences": (
        "reference twin: word_set_occurrences is defined as its per-word "
        "sum, and tests compare the two"
    ),
    "io.readers.read_images": (
        "the reference's S3 image-directory scan "
        "(radiography_analysis.py:71-89), tested end to end"
    ),
    "llmdata.dedup.compact_chunk_checkpoint": _DEDUP_WRAPPER,
    "llmdata.dedup.ingest_high_water_mark": (
        "public read of a checkpoint's committed high-water mark; the "
        "ingest guard reads the same manifest field from the manifest it "
        "already holds, and the checkpoint tests assert through it"
    ),
    "llmdata.dedup.read_band_checkpoint": _DEDUP_WRAPPER,
    "llmdata.dedup.read_band_params": _DEDUP_WRAPPER,
    "llmdata.dedup.read_chunk_checkpoint": _DEDUP_WRAPPER,
    "llmdata.dedup.read_chunk_params": _DEDUP_WRAPPER,
    "llmdata.dedup.streaming_chunk_dedup_ingest": _DEDUP_WRAPPER,
    "llmdata.dedup.streaming_neardup_ingest": _DEDUP_WRAPPER,
    "operators.joins.asof_join_cogroup": (
        "reference twin: tests compare the as-of join against it"
    ),
    "udf.udtfs.ChunkText": (
        "reference twin: tests compare the native chunking against the "
        "Python UDTF"
    ),
    "udf.udtfs.register_udtfs": "registers ChunkText for those tests",
}


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _strings(node: ast.AST) -> set[str]:
    return {
        n.value
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }


def _package_modules():
    """``(dotted module name, parsed tree)`` of every package file."""
    pkg_dir = os.path.join(REPO, PKG)
    for dirpath, _dirs, files in os.walk(pkg_dir):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, pkg_dir)[: -len(".py")]
            with open(path) as fh:
                yield rel.replace(os.sep, "."), ast.parse(fh.read())


def _unreached() -> set[str]:
    defs: dict[str, ast.AST] = {}
    by_name: dict[str, set[str]] = defaultdict(set)
    roots: set[str] = set()
    root_names: set[str] = set()
    for mod, tree in _package_modules():
        for i, stmt in enumerate(tree.body):
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                qual = f"{mod}.{stmt.name}"
                defs[qual] = stmt
                by_name[stmt.name].add(qual)
                for deco in stmt.decorator_list:
                    root_names |= _refs(deco)
                    if isinstance(deco, ast.Call) and "query" in _refs(
                        deco.func
                    ):
                        roots.add(qual)
                if isinstance(stmt, ast.ClassDef):
                    for base in stmt.bases + [k.value for k in stmt.keywords]:
                        root_names |= _refs(base)
                else:
                    args = stmt.args
                    for dflt in args.defaults + [
                        d for d in args.kw_defaults if d is not None
                    ]:
                        root_names |= _refs(dflt)
                if (
                    mod.startswith("pipelines.")
                    or qual == "timeseries.forecast.prophet_fitter"
                ):
                    roots.add(qual)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                root_names |= _refs(stmt)
                if not (i == 0 and isinstance(stmt, ast.Expr)):
                    root_names |= _strings(stmt)  # __all__ and the like
    entry_files = [
        os.path.join(REPO, "__spark_entry__.py"),
        os.path.join(REPO, "bench.py"),
    ] + sorted(
        os.path.join(REPO, "perfbench", f)
        for f in os.listdir(os.path.join(REPO, "perfbench"))
        if f.endswith(".py")
    )
    for path in entry_files:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        root_names |= _refs(tree) | _strings(tree)
    for name in root_names:
        roots |= by_name.get(name, set())

    seen: set[str] = set()
    stack = list(roots)
    while stack:
        qual = stack.pop()
        if qual in seen:
            continue
        seen.add(qual)
        for name in _refs(defs[qual]):
            stack.extend(by_name.get(name, ()))
    return set(defs) - seen


def test_unreached_defs_are_the_kept_list():
    unreached = _unreached()
    added = sorted(unreached - set(KEPT_UNREACHED))
    stale = sorted(set(KEPT_UNREACHED) - unreached)
    assert not added, (
        f"top-level defs no query, pipeline or benchmark reaches: {added} — "
        "delete them, or add each to KEPT_UNREACHED with its reason"
    )
    assert not stale, (
        f"KEPT_UNREACHED names defs that are reached or gone: {stale}"
    )


def test_package_has_no_asserts():
    found = [
        f"{mod}:{n.lineno}"
        for mod, tree in _package_modules()
        for n in ast.walk(tree)
        if isinstance(n, ast.Assert)
    ]
    assert not found, (
        f"assert statements in package code: {found} — python -O strips "
        "them; raise instead"
    )


def _scratch_or_drain(n: ast.AST) -> bool:
    if isinstance(n, ast.Import):
        return any(a.name == "tempfile" for a in n.names)
    if isinstance(n, ast.ImportFrom):
        return n.module == "tempfile"
    if isinstance(n, ast.Name):
        return n.id == "tempfile"
    return isinstance(n, ast.Attribute) and n.attr == "awaitTermination"


def test_scratch_dirs_and_drains_only_in_registry():
    found = [
        f"{mod}:{n.lineno}"
        for mod, tree in _package_modules()
        if mod != "plans.registry"
        for n in ast.walk(tree)
        if _scratch_or_drain(n)
    ]
    assert not found, (
        f"tempfile / awaitTermination outside plans/registry.py: {found} — "
        "use registry.scratch_dir and registry.drain"
    )


_COPY_WINDOW = 8


def _plan_literals():
    """``(location, stripped non-blank lines)`` of every multi-line string
    literal in ``plans/*.py``, an f-string as written: a literal inside an
    f-string's braces is part of that f-string, not a literal of its own."""
    plans = os.path.join(REPO, PKG, "plans")
    for fname in sorted(os.listdir(plans)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(plans, fname)) as fh:
            src = fh.read()
        tree = ast.parse(src)
        src_lines = src.splitlines()
        nested = {
            id(inner)
            for n in ast.walk(tree)
            if isinstance(n, ast.JoinedStr)
            for inner in ast.walk(n)
            if inner is not n
        }
        for n in ast.walk(tree):
            is_str = isinstance(n, ast.JoinedStr) or (
                isinstance(n, ast.Constant) and isinstance(n.value, str)
            )
            if is_str and n.end_lineno > n.lineno and id(n) not in nested:
                # ast.get_source_segment, without re-splitting the file
                # per literal (col offsets count UTF-8 bytes)
                seg = src_lines[n.lineno - 1 : n.end_lineno]
                seg[0] = seg[0].encode()[n.col_offset :].decode()
                seg[-1] = seg[-1].encode()[: n.end_col_offset].decode()
                lines = [ln.strip() for ln in seg if ln.strip()]
                yield f"plans/{fname}:{n.lineno}", lines


def test_no_oracle_sql_copied():
    first: dict[tuple[str, ...], str] = {}
    copies: dict[tuple[str, str], str] = {}
    for loc, lines in _plan_literals():
        for i in range(len(lines) - _COPY_WINDOW + 1):
            window = tuple(lines[i : i + _COPY_WINDOW])
            seen = first.setdefault(window, loc)
            if seen != loc:
                copies.setdefault((seen, loc), " / ".join(window)[:100])
    assert not copies, (
        f"{_COPY_WINDOW} consecutive lines appear in two string literals: "
        + "; ".join(f"{a} and {b} ({text!r}...)" for (a, b), text in copies.items())
        + " — define the shared SQL once (plans/fragments.py when several "
        "plan modules use it) and build both from it"
    )
