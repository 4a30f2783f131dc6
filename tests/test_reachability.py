"""Every ``uckg_spark`` module is reachable from an entry point.

A static import walk (``ast``: module-level, function-local and relative
imports alike) starts from ``__spark_entry__.py``, the jobs, the bench
harnesses, the tools and the benchmark, and must reach every module of
the package. Code that no query, job or benchmark imports is deleted
rather than kept alive by its own tests.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]

ENTRY_POINTS = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    *sorted((ROOT / "jobs").glob("*.py")),
    *sorted((ROOT / "tools").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
]

# module -> why it stays although no entry point imports it
UNREACHED_ON_PURPOSE = {
    "uckg_spark.plans.doctor":
        "plan-audit tool: tests call it on query plans to check them",
}


def _module_file(name: str, search: list[pathlib.Path]) -> pathlib.Path | None:
    parts = name.split(".")
    for base in search:
        for cand in (base.joinpath(*parts).with_suffix(".py"),
                     base.joinpath(*parts, "__init__.py")):
            if cand.is_file():
                return cand
    return None


def _module_name(path: pathlib.Path) -> str:
    rel = path.relative_to(ROOT).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


def _imported_names(path: pathlib.Path) -> set[str]:
    """Dotted names a file imports, with every parent package (importing
    ``a.b.c`` runs ``a`` and ``a.b`` too) and, for ``from m import x``,
    the candidate submodule ``m.x``."""
    is_pkg = path.name == "__init__.py"
    pkg = _module_name(path).split(".")
    if not is_pkg:
        pkg = pkg[:-1]
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            bases = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            anchor = pkg[:len(pkg) - node.level + 1] if node.level else []
            base = ".".join(anchor + ([node.module] if node.module else []))
            bases = [base] + [f"{base}.{a.name}".lstrip(".")
                              for a in node.names]
        else:
            continue
        for base in bases:
            parts = base.split(".")
            names.update(".".join(parts[:i + 1]) for i in range(len(parts)))
    names.discard("")
    return names


def reachable_modules() -> set[str]:
    seen: set[pathlib.Path] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        # a script's own directory is first on sys.path when it runs
        search = [ROOT] if (path.parent / "__init__.py").is_file() \
            else [path.parent, ROOT]
        for name in _imported_names(path):
            found = _module_file(name, search)
            if found is not None and found not in seen:
                todo.append(found)
    return {_module_name(p) for p in seen
            if p.is_relative_to(ROOT / "uckg_spark")}


def test_walk_sees_local_and_relative_imports():
    reached = reachable_modules()
    # only ever imported inside a query function of __spark_entry__.py
    assert "uckg_spark.operators.multimodal" in reached
    # only ever imported relatively (``from ..kernel import ...``)
    assert "uckg_spark.kernel.jsonenc" in reached


def test_every_package_module_is_reachable():
    package = {_module_name(p) for p in (ROOT / "uckg_spark").rglob("*.py")}
    reached = reachable_modules()
    unreached = sorted(package - reached - set(UNREACHED_ON_PURPOSE))
    assert not unreached, (
        f"no entry point imports {unreached}: delete the code, or wire "
        "it into a query, job or benchmark")
    still_listed = sorted(set(UNREACHED_ON_PURPOSE) & reached)
    assert not still_listed, f"now reachable, drop the exception: {still_listed}"
