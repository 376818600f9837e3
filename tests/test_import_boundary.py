"""Import boundary of the chip pipeline (pure AST — no Spark, no imports
of the package itself).

The closure is every package module that importing `plans.pipeline` and
calling any of its functions can execute: module-level AND function-level
imports, relative and absolute, plus the parent packages each import
runs. It must stay inside CORE, so helpers for unrelated workloads (text
dedup, ANN, ...) cannot creep back into the pipeline through a shared
utility or a lazy import.
"""

from __future__ import annotations

import ast
from collections import deque
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "instageo_e2e_geospatial_ml_spark"
ENTRY = f"{PKG}.plans.pipeline"

CORE = {PKG} | {
    f"{PKG}.{m}"
    for m in (
        # pipeline stages and their sources
        "plans", "plans.pipeline",
        "operators", "operators.asof", "operators.chips", "operators.dates",
        "operators.density", "operators.spatial_join", "operators.validity",
        "sources", "sources.checkpoint",
        # geodesy and cell math
        "functions", "functions.geo", "grid", "mgrs", "projections",
        # session helpers (spread_input)
        "session",
        # image codecs the `fmt` column can select
        "codecs", "jpeg", "jp2", "jp2_native",
    )
}


def _path(mod: str, root: Path) -> Path | None:
    base = root.joinpath(*mod.split("."))
    if base.is_dir() and (base / "__init__.py").exists():
        return base / "__init__.py"
    if base.with_suffix(".py").exists():
        return base.with_suffix(".py")
    return None


def _imports(mod: str, root: Path, pkg: str) -> list[str]:
    """Package modules named by any import statement anywhere in `mod`."""
    path = _path(mod, root)
    package = mod if path.name == "__init__.py" else mod.rpartition(".")[0]
    names = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = ".".join(parts[: len(parts) - node.level + 1])
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module
            # `from a import b` imports a, and a.b too when b is a module
            names += [base] + [f"{base}.{a.name}" for a in node.names]
    out = []
    for name in names:
        parts = name.split(".")
        if parts[0] != pkg or _path(name, root) is None:
            continue
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        out += [".".join(parts[:i]) for i in range(1, len(parts))] + [name]
    return out


def import_closure(entry: str, root: Path = ROOT, pkg: str = PKG) -> dict[str, str | None]:
    """Breadth-first closure: module → the module that first imported it
    (None for the entry), so each chain back to the entry is shortest."""
    parts = entry.split(".")
    parents: dict[str, str | None] = {".".join(parts[:i]): None for i in range(1, len(parts))}
    parents[entry] = None
    queue = deque(parents)
    while queue:
        mod = queue.popleft()
        for dep in _imports(mod, root, pkg):
            if dep not in parents:
                parents[dep] = mod
                queue.append(dep)
    return parents


def _chain(parents: dict[str, str | None], mod: str) -> str:
    out = [mod]
    while parents[out[-1]] is not None:
        out.append(parents[out[-1]])
    return " -> ".join(reversed(out))


def test_pipeline_import_closure_stays_in_core():
    parents = import_closure(ENTRY)
    loc = sum(len(_path(m, ROOT).read_text().splitlines()) for m in parents)
    outside = sorted(set(parents) - CORE)
    assert not outside, (
        f"plans.pipeline's import closure ({len(parents)} modules, {loc} lines) "
        "leaves CORE:\n  "
        + "\n  ".join(_chain(parents, m).replace(f"{PKG}.", "") for m in outside)
    )


def test_closure_follows_function_level_and_relative_imports(tmp_path):
    pkg = tmp_path / "pk"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "entry.py").write_text("from .sub import a\n")
    (pkg / "sub" / "a.py").write_text("def f():\n    from .. import b\n")
    (pkg / "b.py").write_text("import pk.c\n")
    (pkg / "c.py").write_text("import os\n")
    (pkg / "unused.py").write_text("")
    parents = import_closure("pk.entry", root=tmp_path, pkg="pk")
    assert set(parents) == {"pk", "pk.entry", "pk.sub", "pk.sub.a", "pk.b", "pk.c"}
    assert _chain(parents, "pk.c") == "pk.entry -> pk.sub.a -> pk.b -> pk.c"
