"""Repo hygiene lints that a generic linter doesn't catch.

VERDICT r5 #2: a public helper (``let_sql``) was defined twice in one
module — the second definition silently shadowed the first, leaving dead
code that read as live documentation. This lint makes any recurrence a
test failure: no module may define the same top-level function or class
name twice (``@overload``-free codebase, so a redefinition is always a
mistake here).
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "logstream_processing_service_spark"
)


def test_no_shadowed_toplevel_definitions():
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        seen: dict[str, int] = {}
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                if node.name in seen:
                    offenders.append(
                        f"{py.relative_to(PKG.parent)}:{node.lineno} "
                        f"redefines `{node.name}` "
                        f"(first at line {seen[node.name]})"
                    )
                else:
                    seen[node.name] = node.lineno
    assert not offenders, "\n".join(offenders)


def test_every_persist_states_cache_contract():
    """VERDICT r8 #9: every ``.persist()`` site must state the
    caller-owned cache-lifecycle contract — either in the enclosing
    docstring or as the standard greppable marker line within the 12
    lines above the call. Without it, a long-lived session calling the
    operator repeatedly accumulates corpus-sized cached relations."""
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        lines = py.read_text().splitlines()
        for i, ln in enumerate(lines):
            if ".persist()" not in ln:
                continue
            ctx = "\n".join(lines[max(0, i - 12):i + 2])
            if "caller-owned" not in ctx and "caller owned" not in ctx:
                offenders.append(f"{py.relative_to(PKG.parent)}:{i + 1}")
    assert not offenders, (
        "persist() without a caller-owned cache-contract note:\n"
        + "\n".join(offenders)
    )


def _reads(node: ast.AST) -> bool:
    return any(
        (isinstance(n, ast.Attribute) and n.attr in ("read", "read_parquet"))
        or (isinstance(n, ast.Name) and n.id == "read_parquet")
        for n in ast.walk(node)
    )


def _catches_everything(handler: ast.ExceptHandler) -> bool:
    if handler.type is None:
        return True
    types = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
    return any(
        isinstance(t, ast.Name) and t.id in ("Exception", "BaseException") for t in types
    )


def test_no_read_swallows_every_exception():
    """A table read wrapped in a bare or ``except Exception`` handler turns
    an unreadable target into "missing": the sink then appends without its
    anti-join or overwrites the table with one batch. Missing-target reads
    go through ``sources.tables.read_parquet_or_empty`` (or, for a MERGE
    target, ``read_merge_target``), which catch only PATH_NOT_FOUND."""
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Try):
                continue
            if any(_reads(stmt) for stmt in node.body) and any(
                _catches_everything(h) for h in node.handlers
            ):
                offenders.append(f"{py.relative_to(PKG.parent)}:{node.lineno}")
    assert not offenders, (
        "read wrapped in a catch-all handler:\n" + "\n".join(offenders)
    )


# (module, enclosing def) pairs allowed to move files; ``None`` = anywhere
_MOVERS = {
    ("sources/tables.py", None),
    ("pipelines.py", "ModelStore.promote"),
    ("pipelines.py", "write_commit_marker"),
}


def _scoped(tree: ast.AST, hit):
    """Yield (lineno, enclosing qualname) for every node where ``hit(node)``."""

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield from walk(child, f"{scope}.{child.name}" if scope else child.name)
                continue
            if hit(child):
                yield child.lineno, scope
            yield from walk(child, scope)

    yield from walk(tree, "")


def _is_file_move(node: ast.AST) -> bool:
    """An ``os.rename`` / ``os.replace`` reference, or an import of either
    from ``os``."""
    return (
        isinstance(node, ast.Attribute)
        and node.attr in ("rename", "replace")
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    ) or (
        isinstance(node, ast.ImportFrom)
        and node.module == "os"
        and any(a.name in ("rename", "replace") for a in node.names)
    )


def test_file_moves_stay_in_the_sink_verbs():
    """Every rename in the package is a commit step of a sink, so it lives
    in ``sources.tables`` (the swap, its recovery and the replace-by-tag
    put) or in the two pipeline commits (the model promote and the batch
    marker). A move anywhere else is a second commit protocol with its own
    crash window."""
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        tree = ast.parse(py.read_text(), filename=str(py))
        for lineno, scope in _scoped(tree, _is_file_move):
            if (rel, None) not in _MOVERS and (rel, scope) not in _MOVERS:
                offenders.append(f"{rel}:{lineno} in {scope or '<module>'}")
    assert not offenders, "file move outside the sink verbs:\n" + "\n".join(offenders)


def test_stream_twins_import_the_harness_at_module_level():
    """perfbench's traced run wraps ``queries_streaming.run_deterministic_batches``
    by patching the module attribute; a twin that imports the harness
    inside its body binds the unwrapped function and escapes the trace."""
    py = PKG / "queries_streaming.py"
    tree = ast.parse(py.read_text(), filename=str(py))
    offenders = [
        f"{py.name}:{node.lineno} in {fn.name}"
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for node in ast.walk(fn)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        and any(a.name == "run_deterministic_batches" for a in node.names)
    ]
    assert not offenders, (
        "function-local import of run_deterministic_batches:\n" + "\n".join(offenders)
    )


def _is_lineage_cut(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("checkpoint", "localCheckpoint")
    )


def test_lineage_cuts_go_through_the_session_policy():
    """Whether a cut is reliable or local is decided once, by
    ``session.cut_lineage`` from the session's checkpoint dir. A direct
    ``checkpoint`` / ``localCheckpoint`` call elsewhere re-decides it and
    ignores a checkpoint dir the operator of the cluster has set."""
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        tree = ast.parse(py.read_text(), filename=str(py))
        for lineno, scope in _scoped(tree, _is_lineage_cut):
            if (rel, scope) != ("session.py", "cut_lineage"):
                offenders.append(f"{rel}:{lineno} in {scope or '<module>'}")
    assert not offenders, "lineage cut outside session.cut_lineage:\n" + "\n".join(offenders)


def test_bench_and_tools_compile(tmp_path):
    """bench.py and the tools/ scripts live outside the package, so the
    package compile gate never sees them; a syntax error there would
    surface only when someone next runs the script."""
    import py_compile

    root = PKG.parent
    scripts = [root / "bench.py", *sorted((root / "tools").glob("*.py"))]
    for py in scripts:
        py_compile.compile(str(py), cfile=str(tmp_path / "x.pyc"), doraise=True)


def _is_scratch_policy(node: ast.AST) -> bool:
    """A temp-dir/file maker or an exit hook, referenced or imported."""
    names = ("mkdtemp", "mkstemp")
    return (
        (isinstance(node, ast.Attribute) and node.attr in names)
        or (isinstance(node, ast.Name) and node.id in names)
        or (
            isinstance(node, ast.Attribute)
            and node.attr == "register"
            and isinstance(node.value, ast.Name)
            and node.value.id == "atexit"
        )
        or (
            isinstance(node, ast.ImportFrom)
            and node.module in ("tempfile", "atexit")
            and any(a.name in (*names, "register") for a in node.names)
        )
    )


def _is_tmp_literal(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("/tmp/")
    )


def test_on_disk_state_goes_through_scratch_dir():
    """Where a query's on-disk state (txlog tables, registries, indexes,
    stream sources) lives and how long it lasts is decided once, by
    ``session.scratch_dir``: under ``TMPDIR``, one root per process,
    removed at exit. A ``mkdtemp`` or exit hook elsewhere is a second
    lifetime policy, and a fixed ``/tmp/...`` path anywhere in the
    package ignores ``TMPDIR`` and is shared by every process on the
    machine."""
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        tree = ast.parse(py.read_text(), filename=str(py))
        if rel != "session.py":
            for lineno, scope in _scoped(tree, _is_scratch_policy):
                offenders.append(f"{rel}:{lineno} in {scope or '<module>'}")
        for lineno, scope in _scoped(tree, _is_tmp_literal):
            offenders.append(f"{rel}:{lineno} /tmp literal in {scope or '<module>'}")
    assert not offenders, (
        "on-disk state outside session.scratch_dir:\n" + "\n".join(offenders)
    )


def _is_thread_maker(node: ast.AST) -> bool:
    """A ``threading`` import or a ``ThreadPoolExecutor`` reference."""
    return (
        (isinstance(node, ast.Import) and any(a.name == "threading" for a in node.names))
        or (isinstance(node, ast.ImportFrom) and node.module == "threading")
        or (isinstance(node, ast.Attribute) and node.attr == "ThreadPoolExecutor")
        or (isinstance(node, ast.Name) and node.id == "ThreadPoolExecutor")
        or (
            isinstance(node, ast.ImportFrom)
            and any(a.name == "ThreadPoolExecutor" for a in node.names)
        )
    )


def test_threads_go_through_fan_out():
    """Concurrent Spark actions run through ``session.fan_out``, whose
    threads keep the caller's job group and local properties. A plain
    thread or pool submits jobs outside the caller's group, where
    ``getJobIdsForGroup`` does not count them and cancelling the group
    does not stop them."""
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        if rel == "session.py":
            continue
        tree = ast.parse(py.read_text(), filename=str(py))
        for lineno, scope in _scoped(tree, _is_thread_maker):
            offenders.append(f"{rel}:{lineno} in {scope or '<module>'}")
    assert not offenders, "thread outside session.fan_out:\n" + "\n".join(offenders)


# Where a package definition may be referenced from. ``tests/`` is not a
# referrer: code that only a test runs is never run by a catalog query,
# ``__spark_entry__.py``, the scoring service or a benchmark.
_REFERRERS = ("logstream_processing_service_spark", "tools", "perfbench")

# The reference service's surface that SURVEY.md maps to this package but
# that no catalog query, entry point or benchmark calls. Each entry is a
# package module (every top-level definition in it) or ``module:name``,
# with the SURVEY.md row it implements.
REFERENCE_SURFACE = {
    "ml/iforest.py": "M9 IsolationForest anomaly model",
    "ml/tsne.py": "M13 t-SNE 2-D projection",
    "ml/visualize.py": "M13, A7 heatmap prep and cross-tabulation",
    "streaming/pipeline.py:run_windowed_volume": "M8 rolling per-cluster volume",
    "streaming/state.py:semantic_grouping_stream": "M3 stateful nearest-centroid assignment",
    "ml/features.py:fit_mllib_features": "M4-M6 feature vectorization, scaling, one-hot",
}


def _toplevel_definitions(tree: ast.Module):
    """Yield (name, first line, last line) for each undecorated top-level
    function or class and each top-level name assignment."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.decorator_list:
                yield node.name, node.lineno, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and not t.id.startswith("__"):
                    yield t.id, node.lineno, node.end_lineno


def test_every_toplevel_definition_is_referenced():
    """A top-level function, class or constant that no package module,
    tool, benchmark, ``bench.py`` or ``__spark_entry__.py`` names is code
    that only tests run, and it reads as live. The scan runs to a fixed
    point: a name that only already-flagged definitions mention is
    flagged too. Decorated definitions are exempt (the decorator, such as
    ``@spec`` or a UDF wrapper, is their reference), and so is
    ``REFERENCE_SURFACE``."""
    import re
    from collections import Counter

    root = PKG.parent
    files = [root / "bench.py", root / "__spark_entry__.py"]
    for d in _REFERRERS:
        files += sorted((root / d).rglob("*.py"))
    texts = {py: py.read_text() for py in files}
    words = Counter(w for text in texts.values() for w in re.findall(r"\w+", text))
    defs = []  # (label, name, words inside the definition)
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        lines = texts[py].splitlines()
        for name, first, last in _toplevel_definitions(ast.parse(texts[py])):
            if rel in REFERENCE_SURFACE or f"{rel}:{name}" in REFERENCE_SURFACE:
                continue
            body = Counter(re.findall(r"\w+", "\n".join(lines[first - 1:last])))
            defs.append((f"{py.relative_to(root)}:{first} {name}", name, body))
    flagged: dict[str, Counter] = {}
    while True:
        dead = sum(flagged.values(), Counter())
        new = {
            label: body for label, name, body in defs
            if label not in flagged and words[name] - dead[name] - body[name] <= 0
        }
        if not new:
            break
        flagged.update(new)
    offenders = sorted(flagged)
    assert not offenders, "unreferenced top-level definitions:\n" + "\n".join(offenders)


def test_module_imports_are_used():
    """An import that its module never names is dead code that reads as
    a dependency. A deliberate one (a re-export, an availability probe)
    says so with ``noqa: F401`` on its lines; names listed in ``__all__``
    count as used."""
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        lines = py.read_text().splitlines()
        tree = ast.parse("\n".join(lines), filename=str(py))
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                used |= {c.value for c in ast.walk(node.value) if isinstance(c, ast.Constant)}
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if any("noqa: F401" in ln for ln in lines[node.lineno - 1:node.end_lineno]):
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name != "*" and name not in used:
                    offenders.append(f"{py.relative_to(PKG.parent)}:{node.lineno} {name}")
    assert not offenders, "imported but never used:\n" + "\n".join(offenders)
