#!/usr/bin/env python
"""Settable values of the package: defaulted parameters and config fields.

An AST scan of every ``.py`` file of a checkout.  It prints, per module of
the package, how many defaulted parameters its functions take and how many
fields its dataclasses declare, then lists the defaulted parameters that no
call in the checkout passes (package, tests, scripts, benchmarks):

    python3 scripts/settable_values.py
    python3 scripts/settable_values.py --tree /path/to/other/checkout

A call is matched to a definition by the called name (``f(...)``,
``obj.f(...)`` or, for ``__init__``, the class name).  A positional
argument passes the parameter in its place (after ``self`` / ``cls`` for a
method called through an attribute), a keyword passes the parameter it
names, and ``**name`` passes the keys of the dict literals the same file
assigns to ``name``.  Two kinds of call site are left out because the scan
cannot tell what they pass: calls that pass ``*args`` or any other
``**kwargs``, and calls to a name the package defines more than once.
"""

from __future__ import annotations

import argparse
import ast
import collections
import os
import pathlib
import sys

PACKAGE = "rs_trafilatura_spark"


def python_files(root: pathlib.Path):
    """Every .py file under ``root``, skipping hidden and cache dirs."""
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames
                             if not d.startswith(".") and d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                yield pathlib.Path(dirpath, fn)


def _is_dataclass(node: ast.ClassDef) -> bool:
    return any(_name(d.func if isinstance(d, ast.Call) else d) == "dataclass"
               for d in node.decorator_list)


def _is_static(node) -> bool:
    return any(getattr(d, "id", "") == "staticmethod"
               for d in node.decorator_list)


def _name(f: ast.expr) -> str | None:
    """The called name of ``f(...)`` or ``obj.f(...)``."""
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _dict_literal_keys(tree: ast.Module) -> dict[str, set[str]]:
    """name -> the string keys of every dict literal the file assigns to
    it: what ``f(**name)`` can pass."""
    keys: dict[str, set[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, (ast.Assign, ast.AnnAssign)) and isinstance(
                node.value, ast.Dict):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                if isinstance(t, ast.Name):
                    keys.setdefault(t.id, set()).update(
                        k.value for k in node.value.keys
                        if isinstance(k, ast.Constant))
    return keys


class Definition:
    """One function of the package: its parameters, and which of its
    defaulted ones the calls seen so far pass."""

    def __init__(self, module, cls, node):
        a = node.args
        self.module = module
        self.name = node.name
        self.call_name = cls if node.name == "__init__" else node.name
        positional = [p.arg for p in a.posonlyargs + a.args]
        # a method called as obj.f(...) / Cls(...) binds self or cls itself
        self.bound = 1 if cls and not _is_static(node) else 0
        self.positional = positional
        self.defaulted = positional[len(positional) - len(a.defaults):]
        self.defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
                           if d is not None]
        self.passed: set[str] = set()

    def record(self, call: ast.Call, via_attribute: bool) -> None:
        skip = self.bound if via_attribute or self.name == "__init__" else 0
        self.passed.update(self.positional[skip:skip + len(call.args)])
        self.passed.update(k.arg for k in call.keywords)


def scan(root: pathlib.Path):
    """(the functions of ``root``'s package that have defaulted
    parameters, with ``passed`` filled from every call in ``root``; how
    many functions the package defines under each called name; dataclass
    fields per module)."""
    pkg = root / PACKAGE
    trees = {p: ast.parse(p.read_text(), str(p)) for p in python_files(root)}
    defs: list[Definition] = []
    names: collections.Counter = collections.Counter()
    fields: collections.Counter = collections.Counter()
    for path, tree in trees.items():
        if pkg not in path.parents:
            continue
        module = ".".join(path.relative_to(root).with_suffix("").parts[1:])
        stack = [(tree, None)]
        while stack:
            node, cls = stack.pop()
            if isinstance(node, ast.ClassDef):
                if _is_dataclass(node):
                    fields[module] += sum(isinstance(s, ast.AnnAssign)
                                          for s in node.body)
                stack.extend((c, node.name) for c in node.body)
                continue
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                d = Definition(module, cls, node)
                names[d.call_name] += 1
                if d.defaulted:
                    defs.append(d)
                cls = None
            stack.extend((c, cls) for c in ast.iter_child_nodes(node))
    defs.sort(key=lambda d: (d.module, d.name))
    by_name = {d.call_name: d for d in defs if names[d.call_name] == 1}
    for tree in trees.values():
        dict_keys = _dict_literal_keys(tree)
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            if any(isinstance(a, ast.Starred) for a in call.args):
                continue
            keywords = [k for k in call.keywords if k.arg is not None]
            spread = [k.value for k in call.keywords if k.arg is None]
            if any(getattr(v, "id", None) not in dict_keys for v in spread):
                continue
            keywords += [ast.keyword(key, None) for v in spread
                         for key in dict_keys[v.id]]
            call = ast.Call(call.func, call.args, keywords)
            f = call.func
            if _name(f) == "partial" and call.args:
                # partial(f, *args, **kw) passes what a call of f would
                f = call.args[0]
                call = ast.Call(f, call.args[1:], call.keywords)
            name = _name(f)
            if name in by_name:
                by_name[name].record(call, isinstance(f, ast.Attribute))
    return defs, names, fields


def unpassed(defs, names) -> list[str]:
    """``module.function(param)`` for each defaulted parameter that no
    call passes, in a fixed order; names defined twice are left out."""
    return [f"{d.module}.{d.call_name}({p})" for d in defs
            if names[d.call_name] == 1
            for p in d.defaulted if p not in d.passed]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tree", default=str(pathlib.Path(__file__).parents[1]),
                    help="checkout to scan (default: this script's)")
    root = pathlib.Path(ap.parse_args().tree).resolve()
    defs, names, fields = scan(root)
    params = collections.Counter()
    for d in defs:
        params[d.module] += len(d.defaulted)
    print(f"{'module':40} {'defaulted':>9} {'fields':>6}")
    for module in sorted(set(params) | set(fields)):
        print(f"{module:40} {params[module]:9} {fields[module]:6}")
    print(f"{'total':40} {sum(params.values()):9} {sum(fields.values()):6}")
    missing = unpassed(defs, names)
    print(f"\n{len(missing)} defaulted parameters no call passes:")
    for m in missing:
        print(f"  {m}")
    twice = sorted({d.call_name for d in defs if names[d.call_name] > 1})
    if twice:
        print(f"\nnot checked (defined more than once): {', '.join(twice)}")


if __name__ == "__main__":
    sys.exit(main())
