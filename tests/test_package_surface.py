"""The package holds only what its users import.

A static walk of the import statements (``ast``; imports inside functions
count) from the product entry points, the driver contract, the benchmark
and the scripts must reach every module under ``jsonschema_spark/``. A
module that only tests import belongs under ``tests/``.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "jsonschema_spark"


def _roots() -> list:
    pkg = REPO / PACKAGE
    return [
        *(pkg / f"{name}.py" for name in ("__init__", "__main__", "cli")),
        pkg / "plans" / "__init__.py",
        pkg / "compiler" / "__init__.py",
        REPO / "__spark_entry__.py",
        *sorted((REPO / "perfbench").glob("*.py")),
        *sorted((REPO / "scripts").glob("*.py")),
    ]


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _module_path(name: str):
    """The file of a package module, or None for anything outside it."""
    if name != PACKAGE and not name.startswith(PACKAGE + "."):
        return None
    base = REPO.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported(path: Path) -> set:
    """Every module name an import statement of ``path`` may load: the
    module, each parent package, and ``from m import x`` as ``m.x`` too."""
    package = _module_name(path).split(".")
    if path.name != "__init__.py":
        package.pop()
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            module = node.module
            if node.level:
                base = package[: len(package) - node.level + 1]
                module = ".".join(base + [module] if module else base)
            names.add(module)
            names.update(f"{module}.{alias.name}" for alias in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def test_every_package_module_is_reached_from_an_entry_point():
    reached, todo = set(), list(_roots())
    while todo:
        path = todo.pop()
        if path in reached:
            continue
        reached.add(path)
        todo.extend(p for p in map(_module_path, _imported(path)) if p is not None)
    unreached = sorted(
        _module_name(p).removeprefix(PACKAGE + ".")
        for p in (REPO / PACKAGE).rglob("*.py")
        if p not in reached
    )
    assert not unreached, f"modules no entry point imports: {unreached}"
