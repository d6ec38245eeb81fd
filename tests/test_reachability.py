"""Reachability guards.

- Modules: every module of the package is imported by code that ships —
  the package itself, ``__spark_entry__.py``, ``bench.py``,
  ``scripts/*.py`` or non-test ``perfbench/*.py``.  A module that only
  tests import is dead weight the registry, FillDb and the streaming
  entry never reach.
- Functions: every top-level function or class of the package is named
  somewhere outside its own definition (the package, the entry,
  ``bench.py``, ``scripts/``, ``perfbench/`` or ``tests/``).
  ``@query``-registered entries are reached through the registry.
- Imports: the shipping files carry no unused imports (``__init__.py``
  re-exports aside); the repository has no lint step, so this test is
  that check.

Static (AST only, no Spark): relative and absolute ``import`` /
``from … import`` statements are resolved to dotted module names, and
names are identifiers, attribute names and imported names.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "barberini_analytics_spark"

#: unwired modules kept on purpose, each with the reference file it
#: reproduces
EXEMPT = {
    "sources.gomus_capacities":
        "reference src/gomus/capacities.py: the capacities-page popover "
        "parse, kept as paper-faithful library code",
    "ml.word2vec_io":
        "reference src/absa/post_opinion_patterns.py: the word2vec "
        "text-format loader for the pretrained German vectors",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: Path) -> set[str]:
    """Dotted names ``path`` imports: each module, each ``from`` base,
    and each ``from``-imported name taken as a possible submodule."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")[:len(package.split("."))
                                        - (node.level - 1)]
                base = ".".join(base + ([node.module] if node.module
                                        else []))
            else:
                base = node.module
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def _shipping_files() -> list[Path]:
    files = sorted((ROOT / PACKAGE).rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    files += sorted((ROOT / "scripts").glob("*.py"))
    files += [p for p in sorted((ROOT / "perfbench").glob("*.py"))
              if not p.name.startswith("test_")]
    return files


def test_every_package_module_is_imported_by_shipping_code():
    modules = {_module_name(p) for p in (ROOT / PACKAGE).rglob("*.py")
               if p.name != "__init__.py"}
    reached: set[str] = set()
    for path in _shipping_files():
        own = _module_name(path)
        reached |= _imported(path) - {own}
    short = {m: m.removeprefix(PACKAGE + ".") for m in modules}
    unreached = sorted(s for m, s in short.items()
                       if m not in reached and s not in EXEMPT)
    assert not unreached, (
        f"modules no shipping code imports: {unreached} — delete them, "
        f"or add an EXEMPT entry naming the reference file they reproduce")
    stale = sorted(s for s in EXEMPT
                   if s not in short.values()
                   or f"{PACKAGE}.{s}" in reached)
    assert not stale, f"EXEMPT entries missing or now imported: {stale}"


#: top-level functions nothing names, kept on purpose, each with the
#: reference behaviour it reproduces
UNNAMED_EXEMPT = {
    "domain.views.register_domain_views":
        "reference view catalog (SURVEY §3.3): registers every domain "
        "view as a temp view, the analogue of the Postgres views",
    "operators.relational.attach_latest":
        "reference migration_015.sql:53-60: NATURAL RIGHT JOIN of the "
        "latest performance snapshot onto the post table",
    "operators.relational.linear_deltas":
        "reference src/_utils/data_preparation.py:292-328,363-365: the "
        "delta_* columns of ig_post_performance (migration_051.sql)",
    "sources.jsonc.load_jsonc":
        "reference src/_utils/json_converters.py:25-32: JsoncToJson, "
        "the config loader every ABSA task reads",
}


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
    return out


def _is_query(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", getattr(f, "attr", None)) == "query":
            return True
    return False


def test_every_package_function_is_named_outside_its_definition():
    files = sorted((ROOT / PACKAGE).rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("scripts", "perfbench", "tests"):
        files += sorted((ROOT / d).rglob("*.py"))
    defined: dict[str, str] = {}
    named: set[str] = set()
    for path in files:
        tree = ast.parse(path.read_text())
        in_package = path.is_relative_to(ROOT / PACKAGE)
        module = _module_name(path).removeprefix(PACKAGE + ".")
        for top in tree.body:
            names = _names(top)
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef,
                                ast.ClassDef)):
                names.discard(top.name)  # recursion is not a use
                if in_package and not _is_query(top):
                    defined[f"{module}.{top.name}"] = top.name
            named |= names
    unnamed = sorted(k for k, n in defined.items()
                     if n not in named and k not in UNNAMED_EXEMPT)
    assert not unnamed, (
        f"top-level definitions nothing names: {unnamed} — delete them, "
        f"or add an UNNAMED_EXEMPT entry naming the reference they "
        f"reproduce")
    stale = sorted(k for k in UNNAMED_EXEMPT
                   if k not in defined or defined[k] in named)
    assert not stale, f"UNNAMED_EXEMPT entries missing or now named: {stale}"


_NOQA_F401 = re.compile(r"#\s*noqa:[\w, ]*\bF401\b")


def _unused_imports(path: Path) -> list[str]:
    """Names ``path`` imports but never reads, as ``file:line name``.
    A line whose ``# noqa:`` codes include F401 is a deliberate
    side-effect or re-export import and is skipped."""
    source = path.read_text()
    lines = source.splitlines()
    tree = ast.parse(source)
    imported: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if _NOQA_F401.search(lines[node.lineno - 1]):
                continue
            for a in node.names:
                bound = a.asname or a.name.split(".")[0]
                imported[bound] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    rel = path.relative_to(ROOT)
    return [f"{rel}:{line} {name}" for name, line in sorted(imported.items())
            if name not in used]


def test_shipping_files_have_no_unused_imports():
    unused = [u for p in _shipping_files() if p.name != "__init__.py"
              for u in _unused_imports(p)]
    assert not unused, f"unused imports: {unused}"
