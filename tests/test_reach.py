"""Every engine module is reached from an entry point.

The entry points are the query contract (``__spark_entry__.py``), the
bench scripts, the benchmark harness and the examples. A module that
only tests import is code no workload runs; this guard keeps such a
module from landing (or staying) in ``chunker_spark/``. Pure ``ast``
walk: no Spark, nothing is imported.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "chunker_spark"


def _entry_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("bench", "perfbench", "examples"):
        files += sorted(
            p for p in (ROOT / d).glob("*.py") if not p.name.startswith("test_")
        )
    return files


def _engine_modules() -> dict[str, Path]:
    mods = {}
    for p in (ROOT / PACKAGE).rglob("*.py"):
        parts = p.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = p
    return mods


def _imported(path: Path, module: str | None, modules: dict[str, Path]) -> set[str]:
    """Engine modules named by every import in ``path`` (function-level
    and relative ones included). ``module`` is the file's dotted name, or
    None for an entry script outside the package. Importing ``a.b.c``
    also names ``a`` and ``a.b``; ``from a import b`` names ``a.b`` when
    ``b`` is a submodule."""
    is_pkg = path.name == "__init__.py"
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = module.split(".") if is_pkg else module.split(".")[:-1]
                pkg = pkg[: len(pkg) - (node.level - 1)]
                base = ".".join(pkg + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    reached = set()
    for name in names:
        parts = name.split(".")
        reached.update(
            ".".join(parts[:i]) for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in modules
        )
    return reached


def unreached_modules() -> list[str]:
    modules = _engine_modules()
    todo = set()
    for f in _entry_files():
        todo |= _imported(f, None, modules)
    seen = set()
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo |= _imported(modules[mod], mod, modules)
    return sorted(set(modules) - seen)


def test_every_engine_module_is_reached():
    assert unreached_modules() == []
