"""The package surface: the lazy export table of `quickwit_spark` resolves,
and every package module is reachable from an entry point, so a deleted
module or a renamed attribute cannot leave a stale export, and a module
nothing calls cannot linger."""

import ast
import importlib
from pathlib import Path

import quickwit_spark

REPO = Path(__file__).resolve().parents[1]
PKG = "quickwit_spark"


def test_every_lazy_export_resolves():
    stale = []
    for name, (mod, attr) in sorted(quickwit_spark._API.items()):
        try:
            value = getattr(importlib.import_module(mod), attr)
        except (ImportError, AttributeError) as e:
            stale.append(f"{name}: {e}")
            continue
        assert getattr(quickwit_spark, name) is value
    assert stale == []


def _package_modules() -> dict[str, Path]:
    """Dotted module name -> source file, for every `quickwit_spark` module
    (a package is named by its `__init__.py`)."""
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path, name: str) -> set[str]:
    """Every dotted name an `import` anywhere in `path` may bind, function
    bodies included; `from m import x` yields both `m` and `m.x`, and
    relative imports are resolved against `name`. Nothing is executed."""
    pkg = name.split(".")
    if path.name != "__init__.py":
        pkg = pkg[:-1]
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = pkg[:len(pkg) - (node.level - 1)]
                base = ".".join(up + ([node.module] if node.module else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _api_modules() -> set[str]:
    """The module strings of `_API`, read from the source as a literal."""
    tree = ast.parse((REPO / PKG / "__init__.py").read_text())
    for node in tree.body:
        if (isinstance(node, ast.Assign)
                and any(getattr(t, "id", None) == "_API"
                        for t in node.targets)):
            return {mod for mod, _ in ast.literal_eval(node.value).values()}
    raise AssertionError("quickwit_spark/__init__.py defines no _API")


def _reached(mods: dict[str, Path]) -> set[str]:
    """Modules reached from the entry points: `_API`, `__spark_entry__.py`
    and `scripts/*.py`. Importing a module runs its packages' `__init__`,
    so those are reached (and walked) with it."""
    todo = set(_api_modules())
    for path in [REPO / "__spark_entry__.py", *sorted(REPO.glob("scripts/*.py"))]:
        todo |= _imported_names(path, path.stem)
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in mods and mod not in seen:
                seen.add(mod)
                todo |= _imported_names(mods[mod], mod)
    return seen


def test_every_module_is_reachable():
    mods = _package_modules()
    unreached = sorted(m.removeprefix(PKG + ".")
                       for m in set(mods) - _reached(mods))
    assert not unreached, f"modules no entry point reaches: {unreached}"
