"""Every package module has a caller.

Builds the static import graph of the package with ``ast`` from the
program's entry points -- the CLI, ``python -m``, the query catalog,
the driver contract, ``bench.py``, the benchmark harness and the two
``tools/`` scripts that tests load -- and fails on any module that no
entry point reaches. Imports inside functions count; imports made by
tests do not. There is no allowlist: a module that only its own tests
import is dead code and goes, with its tests.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "utc_cuip_kafka_aws_connector_spark"

ENTRY_FILES = [
    ROOT / PKG / "cli.py",
    ROOT / PKG / "__main__.py",
    ROOT / PKG / "plans" / "catalog.py",
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    ROOT / "tools" / "bench_compare.py",
    ROOT / "tools" / "gate_fingerprints.py",
]


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports(path: Path, mods: dict[str, Path]) -> set[str]:
    """Package modules that ``path`` imports, with their parent
    packages (importing ``a.b.c`` runs ``a/__init__`` and ``a/b/__init__``)."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert not node.level, f"{path}: relative imports are not resolved"
            names.add(node.module)
            # ``from pkg import sub`` imports the submodule ``pkg.sub``
            names.update(f"{node.module}.{a.name}" for a in node.names)
    found = set()
    for name in names:
        parts = name.split(".")
        found.update(
            prefix
            for i in range(1, len(parts) + 1)
            if (prefix := ".".join(parts[:i])) in mods
        )
    return found


def test_every_package_module_is_reachable_from_an_entry_point():
    mods = _package_modules()
    seen = {m for m, p in mods.items() if p in ENTRY_FILES}
    todo = list(ENTRY_FILES)
    while todo:
        for name in _imports(todo.pop(), mods) - seen:
            seen.add(name)
            todo.append(mods[name])
    unreached = sorted(set(mods) - seen)
    assert not unreached, (
        f"{len(unreached)} package modules have no caller outside tests: "
        + ", ".join(unreached)
    )
