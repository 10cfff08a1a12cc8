"""Every package module must be reachable through imports from the
query registry (``plans``), ``bench.py``, ``__spark_entry__.py``,
``perfbench/`` or ``tools/``. Pure AST: no Spark session, no imports
of the package itself. A module nothing reaches is either deleted or
listed below with the reason it stays."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark"

# The decode stage of ROADMAP item 4's end-to-end pipeline (binary
# PDF/DOCX/HTML → loaders → splitter → embed → index); that PR wires
# them in and removes these entries.
UNREACHED_OK = {
    f"{PKG}.sources.loaders": "ROADMAP item 4: decode stage of the end-to-end pipeline",
    f"{PKG}.sources.ingest": "ROADMAP item 4: ingest stage of the end-to-end pipeline",
    f"{PKG}.sources.minidecode": "ROADMAP item 4: PDF/DOCX decoder behind loaders",
}


def _package_modules() -> dict[str, str]:
    mods = {}
    for d, _, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                name = os.path.relpath(path, REPO)[:-3].replace(os.sep, ".")
                mods[name.removesuffix(".__init__")] = path
    return mods


def _imported(path: str, module: str, mods: dict[str, str]) -> set[str]:
    """Package modules ``path`` imports, with every parent package
    (importing ``a.b.c`` runs ``a/__init__`` and ``a/b/__init__``)."""
    package = module if path.endswith("__init__.py") else module.rpartition(".")[0]
    names = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                target = ".".join(base + ([node.module] if node.module else []))
            else:
                target = node.module
            names.add(target)
            # `from pkg import submodule` reaches the submodule
            names.update(f"{target}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[: i + 1]) for i in range(len(parts)))
    return out & mods.keys()


def _unreached() -> set[str]:
    mods = _package_modules()
    roots = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    for d in ("perfbench", "tools"):
        roots += [
            os.path.join(REPO, d, f)
            for f in sorted(os.listdir(os.path.join(REPO, d)))
            if f.endswith(".py")
        ]
    todo = [f"{PKG}.plans"]
    for r in roots:
        todo += _imported(r, "__root__", mods)
    seen: set[str] = set()
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo += _imported(mods[m], m, mods)
    return mods.keys() - seen


def test_every_package_module_is_reachable():
    unreached = _unreached()
    assert unreached - UNREACHED_OK.keys() == set(), (
        "modules no query, benchmark or tool imports; delete them or "
        f"wire them in: {sorted(unreached - UNREACHED_OK.keys())}"
    )
    # a listed exception that became reachable (or was deleted) must
    # come off the list
    assert UNREACHED_OK.keys() <= unreached, sorted(UNREACHED_OK.keys() - unreached)
