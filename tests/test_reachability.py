"""Every package module and def must be reachable from a real entry point.

A static ``ast`` walk of import statements (module-level and lazy, i.e.
inside functions) starts at the registered query plans, the three CLIs,
``session``, ``catalog``, ``bench.py``, ``__spark_entry__.py`` and
``perfbench/*.py``.  A package module that no walk reaches is code that no
query, CLI path or sink runs; delete it together with its tests rather
than keep it alive through a test or an eager ``__init__`` re-export.

The def-level walk starts from the same roots plus ``KEPT`` and follows
the names code refers to (``Name`` ids, ``Attribute`` attrs and imported
names), so a name in a docstring or comment does not count.  Names are
matched without resolving scopes: a def the walk reports is unreached,
while a dead def that shares its name with a reached one slips through.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "org_revue_de_presse_trends_spark"
_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

#: defs that no entry point calls but that stay on purpose, with why;
#: each seeds the def-level walk, so what they call counts as reached
KEPT = {
    "functions.codecs.encode_jpeg":
        "builds the JPEG decoder tests' inputs (PIL is not installed)",
    "functions.codecs.encode_jpeg_progressive":
        "builds the progressive JPEG decoder tests' inputs",
    "functions.codec_vp8_enc.encode_webp_lossy":
        "builds the lossy WebP decoder tests' inputs (no WebP encoder)",
    "functions.container_mp4.mux_mp4_vp8":
        "builds the MP4 demuxer tests' inputs (no mp4 tooling)",
    "functions.container_mp4.parse_mp4":
        "lists the tracks the MP4 demuxer tests check",
    "operators.psl.registrable_domain_py":
        "Python oracle of the registrable-domain SQL expression",
    "operators.dedup.embedding_near_dup_pairs":
        "brute-force oracle of the LSH embedding near-dup pairs",
    "sources.jdbc.reader_options":
        "JDBC options of the reference's PostgreSQL source",
    "sources.jdbc.read_jdbc":
        "the only reader of the reference's PostgreSQL source",
    "operators.classifier.model_artifact":
        "emits the model artifact that corpus_cli --help documents",
    "operators.classifier.scaled_weights":
        "the fixed-point weights of that artifact",
    "operators.export.write_shards":
        "export entry point: parquet shards plus their manifest",
}


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


def _names(node: ast.AST) -> set[str]:
    """Names the code under ``node`` refers to; strings do not count."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
    return out


def _unreached_defs() -> list[str]:
    """Top-level package defs the def-level walk does not reach."""
    mods = _package_modules()
    roots = _roots()
    root_mods = {m for m, p in mods.items() if p in roots}
    live_mods = _reached(mods, roots)
    defs: dict[str, ast.AST] = {}
    todo = [
        ast.parse(p.read_text()) for p in roots if p not in mods.values()
    ]
    reached = {f"{PKG}.{name}" for name in KEPT}
    for mod, path in mods.items():
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, _DEF):
                if mod in live_mods:  # runs when the module is imported
                    todo.append(node)
                continue
            dotted = f"{mod}.{node.name}"
            defs[dotted] = node
            if mod in root_mods:  # queries register by decorator
                reached.add(dotted)
    todo += [defs[d] for d in reached if d in defs]
    by_name: dict[str, list[str]] = {}
    for dotted in defs:
        by_name.setdefault(dotted.rpartition(".")[2], []).append(dotted)
    seen: set[str] = set()
    while todo:
        for name in _names(todo.pop()) - seen:
            seen.add(name)
            for dotted in by_name.get(name, ()):
                if dotted not in reached:
                    reached.add(dotted)
                    todo.append(defs[dotted])
    return sorted(set(defs) - reached)


def test_every_package_module_is_reached_from_an_entry_point():
    mods = _package_modules()
    unreached = sorted(set(mods) - _reached(mods, _roots()))
    assert not unreached, (
        f"package modules no query, CLI path or sink imports: {unreached}"
    )


def test_every_package_def_is_reached_from_an_entry_point():
    unreached = _unreached_defs()
    assert not unreached, (
        "package defs no query, CLI path or sink reaches (delete them "
        f"with their tests, or add them to KEPT with a reason): {unreached}"
    )


def test_kept_names_exist():
    mods = _package_modules()
    missing = []
    for name in KEPT:
        mod, _, def_name = f"{PKG}.{name}".rpartition(".")
        path = mods.get(mod)
        body = ast.parse(path.read_text()).body if path else []
        if not any(isinstance(n, _DEF) and n.name == def_name for n in body):
            missing.append(name)
    assert not missing, f"KEPT names no package def: {missing}"


def test_def_walk_ignores_docstrings_and_comments():
    tree = ast.parse(
        "def f():\n"
        "    \"\"\"Calls g.\"\"\"\n"
        "    # and h\n"
        "    from m import k as alias\n"
        "    return x.y(alias)\n"
    )
    assert _names(tree) == {"k", "alias", "x", "y"}


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
