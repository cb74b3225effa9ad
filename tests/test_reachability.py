"""Every package module must be reachable from a real entry point.

A static ``ast`` walk of import statements (module-level and lazy, i.e.
inside functions) starts at the registered query plans, the three CLIs,
``session``, ``catalog``, ``bench.py``, ``__spark_entry__.py`` and
``perfbench/*.py``.  A package module that no walk reaches is code that no
query, CLI path or sink runs; delete it together with its tests rather
than keep it alive through a test or an eager ``__init__`` re-export.

Only module-level reach is checked.  Per-def reach would need name
resolution, and a plain name search is fooled by docstrings.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "org_revue_de_presse_trends_spark"


def _package_modules() -> dict[str, Path]:
    """Dotted module name -> file, for every ``*.py`` under the package."""
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _imported(tree: ast.AST, name: str, is_pkg: bool) -> set[str]:
    """Candidate dotted names a module's import statements may load."""
    out: set[str] = set()
    package = name if is_pkg else name.rpartition(".")[0]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[: len(base) - (node.level - 1)]
                if node.module:
                    base.append(node.module)
                mod = ".".join(base)
            else:
                mod = node.module or ""
            out.add(mod)
            # ``from pkg import sub`` loads ``pkg.sub`` if it is a module.
            out.update(f"{mod}.{alias.name}" for alias in node.names)
    return out


def _reached(mods: dict[str, Path], roots: list[Path]) -> set[str]:
    by_path = {p: m for m, p in mods.items()}
    seen: set[str] = set()
    todo: list[tuple[ast.AST, str, bool]] = []

    def visit(dotted: str) -> None:
        # Importing ``a.b.c`` also runs ``a/__init__`` and ``a/b/__init__``.
        parts = dotted.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in mods and mod not in seen:
                seen.add(mod)
                path = mods[mod]
                todo.append(
                    (ast.parse(path.read_text()), mod, path.name == "__init__.py")
                )

    for root in roots:
        mod = by_path.get(root)
        if mod is not None:
            visit(mod)
        else:
            todo.append((ast.parse(root.read_text()), root.stem, False))
    while todo:
        tree, name, is_pkg = todo.pop()
        for dotted in _imported(tree, name, is_pkg):
            visit(dotted)
    return seen


def _roots() -> list[Path]:
    pkg = REPO / PKG
    return [
        *sorted((pkg / "plans").glob("*.py")),
        pkg / "cli.py",
        pkg / "corpus_cli.py",
        pkg / "export_cli.py",
        pkg / "session.py",
        pkg / "catalog.py",
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
        *sorted((REPO / "perfbench").glob("*.py")),
    ]


def test_every_package_module_is_reached_from_an_entry_point():
    mods = _package_modules()
    unreached = sorted(set(mods) - _reached(mods, _roots()))
    assert not unreached, (
        f"package modules no query, CLI path or sink imports: {unreached}"
    )


def test_walk_follows_lazy_and_relative_imports():
    tree = ast.parse(
        "from . import a\n"
        "from .b import c\n"
        "from ..d import e\n"
        "def f():\n"
        "    import g.h\n"
    )
    got = _imported(tree, "pkg.sub.mod", is_pkg=False)
    assert {"pkg.sub.a", "pkg.sub.b", "pkg.sub.b.c", "pkg.d", "pkg.d.e",
            "g.h"} <= got
