"""Census of the engine's keyword options that no production caller sets.

    python tools/option_census.py [repo_root]

Reads the source only (nothing is imported or run). An engine function
is a module-level ``def`` under ``iconic_data_science_spark/``; its
keyword options are its parameters with a default. Production callers
are every call in ``__spark_entry__.py`` (the query builders),
``iconic_data_science_spark/`` (operators, stream pipelines) and
``perfbench/``; tests and tools are not. A call is matched to a
function by its bare name, so a name defined in two modules counts the
calls of both. An option counts as set when a call passes it, by
keyword or by position, anything but a literal equal to its default
(a caller's own variable counts as set); ``**kwargs`` at a call sets
every option.

Prints one JSON object: for each function that has unset options, the
list of them (``name``, ``default``, and ``branch``: whether the name
appears in an ``if``/``while``/conditional-expression test in the
function body, i.e. whether it chooses a code path), plus the totals
under ``"counts"``.
"""

from __future__ import annotations

import ast
import json
import os
import sys

ENGINE = "iconic_data_science_spark"
CALLER_ROOTS = ("__spark_entry__.py", ENGINE, "perfbench")
_UNSET = object()


def _py_files(root: str, rel: str) -> list[str]:
    path = os.path.join(root, rel)
    if os.path.isfile(path):
        return [path]
    out = []
    for d, _, files in os.walk(path):
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return sorted(out)


def _literal(node: ast.AST):
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return _UNSET


def _options(fn: ast.FunctionDef) -> list[tuple[str, ast.AST, int | None]]:
    """(name, default node, position or None if keyword-only)."""
    a = fn.args
    positional = a.posonlyargs + a.args
    out = []
    for i, (arg, default) in enumerate(
        zip(positional[len(positional) - len(a.defaults):], a.defaults)
    ):
        out.append((arg.arg, default, len(positional) - len(a.defaults) + i))
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            out.append((arg.arg, default, None))
    return out


def _branch_names(fn: ast.FunctionDef) -> set[str]:
    names: set[str] = set()
    for node in ast.walk(fn):
        tests = []
        if isinstance(node, (ast.If, ast.IfExp, ast.While)):
            tests.append(node.test)
        elif isinstance(node, ast.comprehension):
            tests += node.ifs
        for t in tests:
            names |= {n.id for n in ast.walk(t) if isinstance(n, ast.Name)}
    return names


def engine_functions(root: str) -> dict[str, tuple[str, ast.FunctionDef]]:
    out = {}
    for path in _py_files(root, ENGINE):
        mod = os.path.relpath(path, root)[:-3].replace(os.sep, ".")
        for node in ast.parse(open(path, encoding="utf-8").read()).body:
            if isinstance(node, ast.FunctionDef):
                out[f"{mod}.{node.name}"] = (node.name, node)
    return out


def production_calls(root: str) -> dict[str, list[ast.Call]]:
    calls: dict[str, list[ast.Call]] = {}
    for rel in CALLER_ROOTS:
        for path in _py_files(root, rel):
            for node in ast.walk(ast.parse(open(path, encoding="utf-8").read())):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
                if name:
                    calls.setdefault(name, []).append(node)
    return calls


def _set_options(call: ast.Call, opts) -> set[str]:
    if any(k.arg is None for k in call.keywords) or any(
        isinstance(a, ast.Starred) for a in call.args
    ):
        return {name for name, _, _ in opts}
    given = {k.arg: k.value for k in call.keywords}
    for name, _, pos in opts:
        if pos is not None and pos < len(call.args):
            given[name] = call.args[pos]
    out = set()
    for name, default, _ in opts:
        if name in given:
            v, d = _literal(given[name]), _literal(default)
            if v is _UNSET or d is _UNSET or v != d or type(v) is not type(d):
                out.add(name)
    return out


def census(root: str) -> dict:
    calls = production_calls(root)
    report: dict = {}
    n_opts = n_unset = n_branch = 0
    for qual, (name, fn) in sorted(engine_functions(root).items()):
        opts = _options(fn)
        if not opts:
            continue
        used: set[str] = set()
        for call in calls.get(name, []):
            used |= _set_options(call, opts)
        branches = _branch_names(fn)
        unset = [
            {"name": o, "default": ast.unparse(d), "branch": o in branches}
            for o, d, _ in opts
            if o not in used
        ]
        n_opts += len(opts)
        n_unset += len(unset)
        n_branch += sum(u["branch"] for u in unset)
        if unset:
            report[qual] = unset
    report["counts"] = {
        "keyword_options": n_opts,
        "never_set_by_production": n_unset,
        "never_set_and_branching": n_branch,
    }
    return report


def main() -> None:
    if len(sys.argv) > 2:
        sys.exit(__doc__)
    root = sys.argv[1] if len(sys.argv) == 2 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    print(json.dumps(census(root), indent=1))


if __name__ == "__main__":
    main()
