"""Print every package module that no entry point imports.

Walks imports (function-local ones too) with stdlib ``ast`` from the
package's ``__main__.py``, ``bench.py``, ``perfbench/*.py`` and
``tools/*.py``, following each reached package module in turn. Tests
are not entry points: a module only tests import is dead code.

Usage:  python tools/reachability.py
Output: one repo-relative path per unreached module; nothing when every
module is reached (tests/test_reachability.py asserts that).
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "kyiv_traffic_bigdata_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: Path, name: str) -> set[str]:
    """Dotted names ``path`` imports, relative imports resolved; for
    ``from m import x`` both ``m`` and ``m.x`` (x may be a submodule)."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def unreached() -> list[str]:
    """Repo-relative paths of package modules no entry point reaches."""
    modules = {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    roots = [
        ROOT / PKG / "__main__.py",
        ROOT / "bench.py",
        *sorted((ROOT / "perfbench").glob("*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
    ]
    todo = [(p, _module_name(p)) for p in roots]
    seen = {name for _, name in todo}
    while todo:
        path, name = todo.pop()
        for dotted in _imported(path, name):
            parts = dotted.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ as well
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in seen:
                    seen.add(mod)
                    todo.append((modules[mod], mod))
    return sorted(
        str(p.relative_to(ROOT)) for m, p in modules.items() if m not in seen
    )


if __name__ == "__main__":
    for path in unreached():
        print(path)
