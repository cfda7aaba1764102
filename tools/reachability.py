"""Print every package module, then every top-level function or class,
that no entry point reaches.

Both passes start from the roots: the package's ``__main__.py``,
``bench.py``, ``__spark_entry__.py`` (entry/queries/oracle_sql),
``perfbench/*.py`` and ``tools/*.py``. Tests are not roots: code only
tests reach is dead code.

The module pass walks imports (function-local ones too) with stdlib
``ast``, following each reached package module in turn.

The function pass starts from every name the roots reference (as an
``ast.Name`` or ``ast.Attribute``) plus the module-level code of every
reached package module, and adds the body of each top-level ``def`` or
``class`` once its name is referenced, until no new name is reached.
Whatever is left was referenced by nothing, or only by other
unreached code or its own body. Matching is by bare name, so a name
collision can only hide dead code, never flag live code; string
references (``getattr(m, "f")``) do not count.

Usage:  python tools/reachability.py
Output: one repo-relative path per unreached module, then one
``path:name`` per unreached function or class.
tests/test_reachability.py pins both lists.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "kyiv_traffic_bigdata_spark"


def _roots() -> list[Path]:
    return [
        ROOT / PKG / "__main__.py",
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "perfbench").glob("*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
    ]


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"))


def _imported(path: Path, name: str) -> set[str]:
    """Dotted names ``path`` imports, relative imports resolved; for
    ``from m import x`` both ``m`` and ``m.x`` (x may be a submodule)."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(_parse(path)):
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


def _reached_modules() -> tuple[dict[str, Path], set[str]]:
    modules = {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    todo = [(p, _module_name(p)) for p in _roots()]
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
    return modules, seen


def unreached() -> list[str]:
    """Repo-relative paths of package modules no entry point reaches."""
    modules, seen = _reached_modules()
    return sorted(
        str(p.relative_to(ROOT)) for m, p in modules.items() if m not in seen
    )


def _names(nodes) -> set[str]:
    """Every name the given AST nodes reference as a Name or Attribute."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
    return out


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def unreached_functions() -> list[str]:
    """``path:name`` of each top-level def/class in a reached package
    module whose name no reached code references."""
    modules, seen = _reached_modules()
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    referenced = _names(_parse(p) for p in _roots())
    for mod in seen & modules.keys():
        path = modules[mod]
        where = str(path.relative_to(ROOT))
        body = _parse(path).body
        for node in body:
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, []).append((where, node))
        referenced |= _names(n for n in body if not isinstance(n, _DEFS))
    done: set[str] = set()
    while todo := (referenced & defs.keys()) - done:
        for name in todo:
            referenced |= _names(node for _, node in defs[name])
        done |= todo
    return sorted(
        f"{where}:{name}"
        for name, sites in defs.items()
        if name not in done
        for where, _ in sites
    )


if __name__ == "__main__":
    for line in unreached() + unreached_functions():
        print(line)
