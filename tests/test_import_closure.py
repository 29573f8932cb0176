"""Every package module is reached by an engine path, a query catalog or a
bench: the static import closure of the entry points below covers the
package, apart from a short keep-list. Parses source only (no Spark, no
imports run), so a module that only its own tests import fails here."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "sample_dms_kinesis_rds_mariadb_spark"

ENTRY_POINTS = [
    f"{PKG}/engine.py",
    f"{PKG}/pipeline.py",
    f"{PKG}/plans/queries.py",
    f"{PKG}/plans/llm_queries.py",
    "bench.py",
] + sorted(
    f"perfbench/{f}"
    for f in os.listdir(os.path.join(ROOT, "perfbench"))
    if f.endswith(".py")
)

# reached by no entry point, kept on purpose
KEEP = {
    "fixtures": "the reference inventory that tests and examples build engines on",
    "sources.jdbc_poll": "a CDC capture layer (query polling), run by "
    "task-lifecycle tests",
    "sources.binlog_net": "a CDC capture layer (binlog over the network), run by "
    "task-lifecycle tests",
    "streaming.state": "DMS before-image attachment for feeds without full images",
}


def _package_modules() -> dict[str, str]:
    """Dotted module name → file, for every module of the package."""
    mods = {}
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        rel = os.path.relpath(dirpath, ROOT).replace(os.sep, ".")
        for f in files:
            if f.endswith(".py"):
                name = rel if f == "__init__.py" else f"{rel}.{f[:-3]}"
                mods[name] = os.path.join(dirpath, f)
    return mods


def _imported(path: str, module: str, is_package: bool) -> set[str]:
    """Every dotted name ``path`` imports, at any depth of its AST: for
    ``from a import b``, both ``a`` and ``a.b`` (b may be a submodule)."""
    with open(path) as f:
        tree = ast.parse(f.read())
    package = module if is_package else module.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                parent = ".".join(parts[: len(parts) - node.level + 1])
                base = f"{parent}.{base}" if base else parent
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def _closure(mods: dict[str, str]) -> set[str]:
    todo = [
        (os.path.join(ROOT, p), p[:-3].replace("/", "."), False) for p in ENTRY_POINTS
    ]
    seen = {m for _, m, _ in todo}
    while todo:
        path, module, is_package = todo.pop()
        for name in _imported(path, module, is_package):
            # importing a.b.c imports the packages a and a.b first
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                dotted = ".".join(parts[:i])
                if dotted in mods and dotted not in seen:
                    seen.add(dotted)
                    path_i = mods[dotted]
                    todo.append((path_i, dotted, path_i.endswith("__init__.py")))
    return seen


def test_every_package_module_is_reachable_from_an_entry_point():
    mods = _package_modules()
    reached = _closure(mods)
    keep = {f"{PKG}.{m}" for m in KEEP}
    assert keep <= mods.keys(), sorted(keep - mods.keys())
    unreached = sorted(mods.keys() - reached - keep)
    assert not unreached, (
        f"modules no entry point imports: {unreached}; delete them, or reach "
        "them from an engine path, a query or a bench"
    )


def test_keep_list_holds_only_unreached_modules():
    """A kept module that an entry point reaches needs no exemption."""
    reached = _closure(_package_modules())
    assert not [m for m in KEEP if f"{PKG}.{m}" in reached]
