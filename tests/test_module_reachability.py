"""Every module of the package must be reachable by static imports from
its public entry points. A module that
only its own tests import is dead code with a second test suite; this
guard fails as soon as one appears. It parses source files with ``ast``
and never imports them, so it needs no JVM. The package uses absolute
imports only."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "clickhouse_provider_spark"

#: The public surface: the serving catalog, the explorer API, the
#: streaming daemons, the storage/sink/maintenance layers, the block
#: sources and the bench CLI.
ENTRY_MODULES = (
    f"{PKG}.plans",
    f"{PKG}.plans.serving",
    f"{PKG}.streaming",
    f"{PKG}.storage",
    f"{PKG}.sinks",
    f"{PKG}.maintenance",
    f"{PKG}.sources",
)
ENTRY_FILES = (ROOT / "bench.py",)


def _module_path(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    if base.with_suffix(".py").is_file():
        return base.with_suffix(".py")
    if (base / "__init__.py").is_file():
        return base / "__init__.py"
    return None


def _imported(path: Path) -> set[str]:
    """Package modules an import statement anywhere in ``path`` may load
    (function-level imports included): each imported module, each
    imported name that is a submodule, and their parent packages."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for n in names:
        parts = n.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return {n for n in out if n.split(".")[0] == PKG and _module_path(n)}


def reachable() -> set[str]:
    seen: set[str] = set()
    todo = [n for f in ENTRY_FILES for n in _imported(f)] + list(ENTRY_MODULES)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(_imported(_module_path(name)) - seen)
    return seen


def package_modules() -> set[str]:
    mods = set()
    for f in ROOT.joinpath(PKG).rglob("*.py"):
        parts = f.relative_to(ROOT).with_suffix("").parts
        mods.add(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    return mods


def test_every_streaming_and_operator_module_is_reachable():
    """Every module of the package is imported from an entry point."""
    unreached = sorted(m.removeprefix(f"{PKG}.") for m in package_modules() - reachable())
    assert not unreached, (
        f"{len(unreached)} package module(s) are imported by no entry point: {unreached}"
    )
