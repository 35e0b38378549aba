"""No dead modules: every `ner4cti_spark` module is imported, directly or
through other modules, by something that runs outside the tests.

The entry points are the driver contract (`__spark_entry__.py`), the
batch job (`ner4cti_spark/job.py`), `bench*.py`, `tools/*.py`,
`examples/*.py` and the benchmark (`perfbench/run.py`). The walk reads
every `import` / `from … import` node of a module with `ast`, including
the ones inside functions, and follows the modules they name: package
modules, and sibling scripts an entry point imports through its own
directory (`perfbench/run.py` → `measure`). Importing a module also runs
its packages' `__init__.py`. No module is imported and no Spark session
is started.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "ner4cti_spark"
ENTRY_POINTS = ["__spark_entry__.py", f"{PACKAGE}/job.py", "bench*.py", "tools/*.py",
                "examples/*.py", "perfbench/run.py"]


def module_file(name: str, here: Path) -> Path | None:
    """The repo file a module name imports: a package module from the
    repo root, else a script beside the importing file."""
    parts = name.split(".")
    base = (REPO if parts[0] == PACKAGE else here).joinpath(*parts)
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def module_name(path: Path) -> str:
    rel = path.relative_to(REPO).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


def imported_names(path: Path) -> set[str]:
    """Every module an import in `path` names, with its parent packages."""
    package = module_name(path).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                base = ".".join(package[: len(package) - node.level + 1] + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)  # submodules
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[: i + 1]) for i in range(len(parts)))
    return out


def reached_files() -> set[Path]:
    todo = [p for pattern in ENTRY_POINTS for p in REPO.glob(pattern)]
    seen: set[Path] = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in imported_names(path):
            target = module_file(name, path.parent)
            if target is not None and target not in seen:
                todo.append(target)
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    reached = reached_files()
    modules = sorted((REPO / PACKAGE).rglob("*.py"))
    assert len(modules) > 20
    dead = [module_name(p) for p in modules if p not in reached]
    assert not dead, f"modules no entry point imports: {dead}"
