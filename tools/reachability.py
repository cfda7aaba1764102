"""Print every package module, then every top-level function or class,
that no entry point reaches, then every parameter of a reached function
that the reached calls fix.

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
bare callee name, ``ClassName(...)`` standing for ``ClassName.__init__``,
and checks each named parameter of a def inside a reached top-level def
or class (methods and nested functions included; ``self``/``cls``
skipped). It lists a parameter when either rule holds:

* one value — across every call, the parameter takes at most one
  distinct value (a parameter without a default needs at least one
  call). An omitted argument counts as its default expression; a passed
  one counts as a value only when it is a literal (``ast.literal_eval``
  accepts it) or a name whose last identifier is UPPER_CASE (``PQ_K``,
  ``SIM.TOPK``), and any other expression, or an argument hidden in
  ``*args``/``**kwargs``, varies. Values compare by ``ast.dump``. A
  defaulted parameter that no call sets is therefore listed;
* unused default — it has a default and every call (at least one)
  passes it explicitly.

Such a parameter is a constant (or, for an unused default, a required
parameter) unless tests/test_reachability.py's ``SEAMS`` says why not.
Bare-name matching merges the calls of two functions that share a name.
Extra calls only add values, so a collision can hide a fixed parameter
but not make a varying one look fixed; the one exception is a function
whose own calls are all invisible (a callback only the framework calls),
which takes its values from the other function's calls.

Usage:  python tools/reachability.py
Output: one repo-relative path per unreached module, then one
``path:name`` per unreached function or class, then one
``path:function:param`` per fixed parameter.
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


def _parameters(fn: ast.FunctionDef, method: bool):
    """``(position, name, default)`` of each named parameter, position
    None for keyword-only ones and default None for required ones; a
    method's ``self``/``cls`` is not counted."""
    args = fn.args
    positional = (args.posonlyargs + args.args)[int(method):]
    defaults = [None] * (len(positional) - len(args.defaults)) + args.defaults
    out = [(i, a.arg, d) for i, (a, d) in enumerate(zip(positional, defaults))]
    out += [(None, a.arg, d) for a, d in zip(args.kwonlyargs, args.kw_defaults)]
    return out


def _constant(node: ast.AST) -> bool:
    """A literal, or a name whose last identifier is UPPER_CASE."""
    if isinstance(node, (ast.Name, ast.Attribute)):
        return _callee(node).isupper()
    try:
        ast.literal_eval(node)
    except (ValueError, TypeError):
        return False
    return True


def _passed(call: ast.Call, position: int | None, name: str):
    """The expression ``call`` passes for the parameter, ``None`` when it
    omits it, or ``...`` when ``*``/``**`` hides what it passes."""
    for k in call.keywords:
        if k.arg == name:
            return k.value
    if position is not None:
        for i, a in enumerate(call.args):
            if isinstance(a, ast.Starred):
                return ...
            if i == position:
                return a
    if any(k.arg is None for k in call.keywords):
        return ...
    return None


def _fixed(passed: list, default: ast.AST | None) -> bool:
    """Whether the arguments ``passed`` at a parameter's calls (see
    :func:`_passed`) fix it: one value, or an unused default."""
    if default is not None and passed and all(v not in (None, ...) for v in passed):
        return True
    values = set()
    for value in passed:
        value = default if value is None else value
        if value in (None, ...) or (value is not default and not _constant(value)):
            return False
        values.add(ast.dump(value))
    return len(values) == 1 or (not passed and default is not None)


def fixed_parameters() -> list[str]:
    """``path:function:param`` of each parameter of a reached function
    that the reached calls fix, by the module docstring's two rules."""
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
            sites = calls.get(key, [])
            for position, param, default in _parameters(fn, method):
                if _fixed([_passed(c, position, param) for c in sites], default):
                    out.append(f"{where}:{qual}:{param}")
    return sorted(out)


if __name__ == "__main__":
    for line in unreached() + unreached_functions() + fixed_parameters():
        print(line)
