"""The benchmark under ``perfbench/`` drives the package from outside: it
imports package modules, calls their functions and patches some of their
attributes to trace the layers. This guard parses every ``perfbench/``
source with ``ast`` (it never imports them, and starts no Spark) and
checks that each ``ksj2gp_spark`` module and attribute named there still
exists, and that each call's arguments still bind to the function's
signature. A change that deletes or renames one of them then fails here
instead of in a benchmark run."""

import ast
import glob
import importlib
import inspect
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = sorted(
    os.path.relpath(p, REPO)
    for p in glob.glob(
        os.path.join(REPO, "perfbench", "**", "*.py"), recursive=True
    )
)


def _resolve(dotted: str):
    """The module ``dotted`` names, or the attribute of its parent."""
    try:
        return importlib.import_module(dotted)
    except ModuleNotFoundError:
        parent, _, name = dotted.rpartition(".")
        return getattr(importlib.import_module(parent), name)


def _package_uses(rel: str) -> tuple[dict[str, str], list[tuple]]:
    """The file's package aliases ({local name: dotted name}) and its
    uses: (line, kind, dotted name) for imports, attributes and patched
    names, (line, "call", Call node) for calls into the package."""
    with open(os.path.join(REPO, rel), encoding="utf-8") as f:
        tree = ast.parse(f.read(), rel)
    aliases: dict[str, str] = {}
    uses: list[tuple] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (
            node.module or ""
        ).startswith("ksj2gp_spark"):
            for a in node.names:
                aliases[a.asname or a.name] = f"{node.module}.{a.name}"
                uses.append((node.lineno, "import", f"{node.module}.{a.name}"))
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("ksj2gp_spark"):
                    top = a.name.split(".")[0]
                    aliases[a.asname or top] = a.name if a.asname else top
                    uses.append((node.lineno, "import", a.name))

    def package_name(n: ast.AST) -> str | None:
        return aliases.get(n.id) if isinstance(n, ast.Name) else None

    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and package_name(node.value):
            uses.append((node.lineno, "attribute",
                         f"{package_name(node.value)}.{node.attr}"))
        elif isinstance(node, ast.Call):
            a = node.args
            # patched(module, "name", wrap), getattr, setattr
            if (
                len(a) >= 2
                and package_name(a[0])
                and isinstance(a[1], ast.Constant)
                and isinstance(a[1].value, str)
            ):
                uses.append((node.lineno, "patched",
                             f"{package_name(a[0])}.{a[1].value}"))
            f = node.func
            if package_name(f) or (
                isinstance(f, ast.Attribute) and package_name(f.value)
            ):
                uses.append((node.lineno, "call", node))
    return aliases, uses


def _bind_problem(call: ast.Call, aliases: dict[str, str]) -> str | None:
    """Why ``call``'s arguments no longer bind to the package function it
    calls, or None (also when the callee is missing: that is reported as
    a missing attribute, and ``*args``/``**kwargs`` calls are skipped)."""
    f = call.func
    try:
        if isinstance(f, ast.Attribute):
            fn = getattr(_resolve(aliases[f.value.id]), f.attr)
        else:
            fn = _resolve(aliases[f.id])
    except (ImportError, AttributeError):
        return None
    if not inspect.isfunction(fn):
        return None
    if any(isinstance(x, ast.Starred) for x in call.args) or any(
        k.arg is None for k in call.keywords
    ):
        return None
    try:
        inspect.signature(fn).bind(
            *range(len(call.args)), **{k.arg: None for k in call.keywords}
        )
    except TypeError as e:
        return f"call {fn.__module__}.{fn.__name__}: {e}"
    return None


@pytest.mark.parametrize("rel", SOURCES)
def test_perfbench_names_exist_in_package(rel):
    aliases, uses = _package_uses(rel)
    problems = []
    for line, kind, what in uses:
        if kind == "call":
            why = _bind_problem(what, aliases)
        else:
            try:
                _resolve(what)
                why = None
            except (ImportError, AttributeError) as e:
                why = f"{kind} {what}: {e}"
        if why:
            problems.append(f"{rel}:{line}: {why}")
    assert not problems, "\n".join(problems)


def test_guard_sees_perfbench_uses():
    """The parser finds the package uses that the benchmark depends on,
    so the guard above cannot pass by seeing nothing."""
    uses = [u for rel in SOURCES for u in _package_uses(rel)[1]]
    named = {what for _l, kind, what in uses if kind != "call"}
    for name in (
        "ksj2gp_spark.sinks.iceberg.append",
        "ksj2gp_spark.sinks.iceberg.added_files",
        "ksj2gp_spark.sinks.iceberg.history",
        "ksj2gp_spark.sinks.iceberg.read",
        "ksj2gp_spark.pipeline.committed_pipeline_files",
        "ksj2gp_spark.pipeline.run_tile_pipeline_iceberg",
        "ksj2gp_spark.operators.spatial.knn_join_pruned",
        "ksj2gp_spark.sinks.write.read_tiles",
    ):
        assert name in named, name
    assert sum(kind == "patched" for _l, kind, _w in uses) >= 9
    assert sum(kind == "call" for _l, kind, _w in uses) > 20
