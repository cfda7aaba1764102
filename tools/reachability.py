"""Print every package module, then every top-level function or class,
that no entry point reaches, then every defaulted parameter of a
reached function that no reached call sets.

All three passes start from the roots: the package's ``__main__.py``,
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

The parameter pass collects every call in reached code (the roots, the
module-level code and the bodies of the reached top-level defs) by its
bare callee name, ``ClassName(...)`` standing for ``ClassName.__init__``.
A defaulted parameter of a def inside a reached top-level def or class
(methods and nested functions included; ``self``/``cls`` skipped) is
set when a call of that name passes it by keyword, covers its position
with positional arguments, or passes ``*args``/``**kwargs``. Bare-name
matching again only errs towards "set": ``stage(df, eager=...)`` would
read as set because ``queries.py`` defines local ``stage`` helpers whose
calls pass a second positional argument.

Usage:  python tools/reachability.py
Output: one repo-relative path per unreached module, then one
``path:name`` per unreached function or class, then one
``path:function:param`` per unset parameter.
tests/test_reachability.py pins all three lists.
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


Sites = dict[str, list[tuple[str, ast.AST]]]


def _reached_defs() -> tuple[Sites, set[str], list[ast.AST]]:
    """Every top-level def/class of a reached package module by name,
    the names of the reached ones, and the code that always runs: the
    roots and the module-level code of reached package modules."""
    modules, seen = _reached_modules()
    defs: Sites = {}
    code: list[ast.AST] = [_parse(p) for p in _roots()]
    for mod in seen & modules.keys():
        path = modules[mod]
        where = str(path.relative_to(ROOT))
        for node in _parse(path).body:
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, []).append((where, node))
            else:
                code.append(node)
    referenced = _names(code)
    done: set[str] = set()
    while todo := (referenced & defs.keys()) - done:
        for name in todo:
            referenced |= _names(node for _, node in defs[name])
        done |= todo
    return defs, done, code


def unreached_functions() -> list[str]:
    """``path:name`` of each top-level def/class in a reached package
    module whose name no reached code references."""
    defs, done, _ = _reached_defs()
    return sorted(
        f"{where}:{name}"
        for name, sites in defs.items()
        if name not in done
        for where, _ in sites
    )


def _callee(func: ast.AST) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _functions(node: ast.AST, qual: str = "", cls: str | None = None):
    """``(qualname, call name, def, is_method)`` for every def inside
    ``node``; a class's ``__init__`` is called by the class name."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            name = f"{qual}{child.name}"
            method = cls is not None and not any(
                _callee(d) == "staticmethod" for d in child.decorator_list
            )
            key = cls if method and child.name == "__init__" else child.name
            yield name, key, child, method
            yield from _functions(child, f"{name}.")
        elif isinstance(child, ast.ClassDef):
            yield from _functions(child, f"{qual}{child.name}.", child.name)
        else:
            yield from _functions(child, qual, cls)


def _defaulted(fn: ast.FunctionDef, method: bool):
    """``(position, name)`` of each defaulted parameter, position None
    for keyword-only ones; a method's ``self``/``cls`` is not counted."""
    args = fn.args
    positional = (args.posonlyargs + args.args)[int(method):]
    first = len(positional) - len(args.defaults)
    out = [(i, a.arg) for i, a in enumerate(positional) if i >= first]
    out += [
        (None, a.arg)
        for a, d in zip(args.kwonlyargs, args.kw_defaults)
        if d is not None
    ]
    return out


def _sets(call: ast.Call, position: int | None, name: str) -> bool:
    keywords = {k.arg for k in call.keywords}  # None is a ``**kwargs``
    if name in keywords or None in keywords:
        return True
    return position is not None and (
        len(call.args) > position
        or any(isinstance(a, ast.Starred) for a in call.args)
    )


def unset_parameters() -> list[str]:
    """``path:function:param`` of each defaulted parameter of a reached
    function that no call in reached code sets, by keyword, by position
    or through ``*``/``**``."""
    defs, done, code = _reached_defs()
    reached = [site for name in done for site in defs[name]]
    calls: dict[str, list[ast.Call]] = {}
    for top in code + [node for _, node in reached]:
        for node in ast.walk(top):
            if isinstance(node, ast.Call) and (name := _callee(node.func)):
                calls.setdefault(name, []).append(node)
    out = []
    for where, top in reached:
        wrapper = ast.Module(body=[top], type_ignores=[])
        for qual, key, fn, method in _functions(wrapper):
            for position, param in _defaulted(fn, method):
                if not any(_sets(c, position, param) for c in calls.get(key, ())):
                    out.append(f"{where}:{qual}:{param}")
    return sorted(out)


if __name__ == "__main__":
    for line in unreached() + unreached_functions() + unset_parameters():
        print(line)
