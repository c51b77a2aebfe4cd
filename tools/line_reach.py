"""Package line count split by reachability from the deployed jobs.

Follows every ``sgb_data_validator_spark`` import (module-level and
function-local, read from the AST, so nothing is executed) starting
from ``jobs/*.py``. A module counts as reachable when that walk imports
it or one of its names; every other package line serves only the
driver query registry. Lines are newline counts, as ``wc -l``. Usage:

    python tools/line_reach.py [repo_root] [--per-module]
"""

from __future__ import annotations

import ast
import pathlib
import sys

PKG = "sgb_data_validator_spark"


def _module_file(root: pathlib.Path, name: str) -> pathlib.Path | None:
    base = root / name.replace(".", "/")
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.exists():
            return p
    return None


def _imports(root: pathlib.Path, path: pathlib.Path) -> set[str]:
    names = set()
    for n in ast.walk(ast.parse(path.read_text())):
        if isinstance(n, ast.ImportFrom) and n.module and n.module.startswith(PKG):
            names.add(n.module)
            names.update(
                f"{n.module}.{a.name}" for a in n.names
                if _module_file(root, f"{n.module}.{a.name}")
            )
        elif isinstance(n, ast.Import):
            names.update(a.name for a in n.names if a.name.startswith(PKG))
    # importing a.b.c runs a/__init__ and a/b/__init__ too
    parts = {tuple(m.split(".")) for m in names}
    return {".".join(p[:i]) for p in parts for i in range(1, len(p) + 1)}


def reachable_files(root: pathlib.Path) -> set[pathlib.Path]:
    todo = set().union(*(_imports(root, j) for j in (root / "jobs").glob("*.py")))
    seen: set[str] = set()
    files = set()
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        p = _module_file(root, m)
        if p:
            files.add(p)
            todo |= _imports(root, p)
    return files


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--per-module"]
    root = pathlib.Path(args[0] if args else ".").resolve()
    lines = {p: p.read_bytes().count(b"\n") for p in (root / PKG).rglob("*.py")}
    reach = reachable_files(root)
    total = sum(lines.values())
    r = sum(n for p, n in lines.items() if p in reach)
    if "--per-module" in sys.argv:
        for p in sorted(lines):
            tag = "jobs" if p in reach else "registry"
            print(f"{lines[p]:6d}  {tag:8s}  {p.relative_to(root)}")
    print(f"total {total}  reachable_from_jobs {r}  registry_only {total - r}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
