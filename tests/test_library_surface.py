"""Every top-level function and class of the package has a caller outside
``tests/`` — a query, pipeline, sink, tool or benchmark — so library code
that only its own tests exercise cannot accumulate again.

Pure AST, no Spark.  A reference is a ``Name``, an ``Attribute``, an
import alias or a string constant that spells the identifier
(registries); a docstring or comment mention is not a caller.  Three
kinds of mention only re-export or restate a def, so they do not count:
a def's references to itself (recursion), the import aliases in the
package's ``__init__.py`` files, and the strings of any ``__all__``.
The ``@q``-registered suite queries are skipped: ``SUITE`` reaches them
by name.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "elastic_asset_etl_poc_spark"

#: kept although only tests call them, each with its reason
ALLOWED = {
    "write_bulk_ndjson": (
        "COVERAGE S8b: the reference's Elasticsearch bulk writer "
        "(lib/es_client.ts:29-31) as an NDJSON export sink"
    ),
    "kmv_min_shared": (
        "the exact min-shared-hash bound the sketch tests check "
        "kmv_candidate_pairs against"
    ),
    "register_signals_es": "COVERAGE S1: the reference's ES source",
}

_SKIP_DIRS = {"tests", "spark-warehouse", "_out", "__pycache__"}
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _is_suite_query(node) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "q"
        for d in node.decorator_list
    )


def _package_defs() -> dict[str, list[str]]:
    defs: dict[str, list[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, _DEFS) and not _is_suite_query(node):
                where = f"{path.relative_to(ROOT)}:{node.lineno}"
                defs.setdefault(node.name, []).append(where)
    return defs


def _caller_files() -> list[Path]:
    return [
        p
        for p in sorted(ROOT.rglob("*.py"))
        if not any(
            part in _SKIP_DIRS or part.startswith(".")
            for part in p.relative_to(ROOT).parts[:-1]
        )
    ]


def _restatements(tree: ast.Module) -> set[int]:
    """Ids of the nodes inside the module's ``__all__ = [...]``."""
    return {
        id(sub)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
        for sub in ast.walk(node)
    }


def _referenced(names: set[str]) -> set[str]:
    """The subset of ``names`` referenced from outside ``tests/``."""
    seen: set[str] = set()
    for path in _caller_files():
        tree = ast.parse(path.read_text())
        own = {
            node.name: (node.lineno, node.end_lineno)
            for node in tree.body
            if isinstance(node, _DEFS)
        }
        reexports = path.name == "__init__.py" and PKG in path.parents
        skip = _restatements(tree)
        for node in ast.walk(tree):
            if id(node) in skip:
                continue
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                if reexports:
                    continue
                name = node.name.rsplit(".", 1)[-1]
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                name = node.value
            else:
                continue
            if name not in names:
                continue
            span = own.get(name)
            line = getattr(node, "lineno", None)
            if span and line is not None and span[0] <= line <= span[1]:
                continue  # the def's own body
            seen.add(name)
    return seen


def test_every_package_def_has_a_caller_outside_tests():
    defs = _package_defs()
    reached = _referenced(set(defs))
    unreached = {
        name: defs[name] for name in defs if name not in reached and name not in ALLOWED
    }
    assert not unreached, (
        "package defs that only tests/ reaches — delete them with their "
        "tests, or give them a caller: "
        + ", ".join(f"{n} ({', '.join(w)})" for n, w in sorted(unreached.items()))
    )


def test_allowlist_is_exact():
    """Each allowed name still exists and still has no caller outside
    tests/ — an entry that gained a caller or lost its def goes."""
    defs = _package_defs()
    assert set(ALLOWED) <= set(defs), set(ALLOWED) - set(defs)
    assert not _referenced(set(ALLOWED))
    assert all(reason.strip() for reason in ALLOWED.values())


def test_package_def_names_are_unique():
    """No two top-level package defs share a name: the caller gate above
    matches defs by bare name, so a second def of a name would count as
    reached through the first one's callers and could sit dead behind it."""
    shared = {n: w for n, w in _package_defs().items() if len(w) > 1}
    assert not shared, "package defs sharing a name: " + ", ".join(
        f"{n} ({', '.join(w)})" for n, w in sorted(shared.items())
    )


#: defaulted parameters of the tick's plans that no caller outside tests/
#: passes, kept each with its reason
UNSET_OPTIONS = {
    "limit_groups": (
        "COVERAGE O3: the reference's 1000-group collapse truncation (Q5), "
        "an opt-in the default leaves off"
    ),
}


def _defaulted_params(fn: ast.FunctionDef) -> dict[str, int | None]:
    """A def's defaulted parameters: name → positional index, or None for
    keyword-only ones."""
    args = fn.args
    positional = args.posonlyargs + args.args
    out: dict[str, int | None] = {
        a.arg: i
        for i, a in enumerate(positional)
        if i >= len(positional) - len(args.defaults)
    }
    kwonly = zip(args.kwonlyargs, args.kw_defaults)
    out.update({a.arg: None for a, d in kwonly if d is not None})
    return out


def test_plan_options_are_passed_outside_tests():
    """Every defaulted parameter of a top-level def in ``plans/`` is passed,
    by keyword or by position, from some call outside ``tests/``: an
    option no caller sets is a code path nothing runs."""
    options: dict[str, dict[str, int | None]] = {}
    for path in sorted((PKG / "plans").glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                options[node.name] = _defaulted_params(node)
    passed: set[tuple[str, str]] = set()
    for path in _caller_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = getattr(func, "id", None) or getattr(func, "attr", None)
            if name not in options:
                continue
            starred = any(isinstance(a, ast.Starred) for a in node.args)
            keywords = {k.arg for k in node.keywords}
            for param, index in options[name].items():
                if (
                    param in keywords
                    or None in keywords  # **kwargs
                    or (index is not None and (starred or index < len(node.args)))
                ):
                    passed.add((name, param))
    unset = sorted(
        f"{fn}({param})"
        for fn, params in options.items()
        for param in params
        if (fn, param) not in passed and param not in UNSET_OPTIONS
    )
    assert not unset, "plan options no caller outside tests/ sets: " + ", ".join(unset)
    kept = {p for fn, ps in options.items() for p in ps if (fn, p) not in passed}
    assert set(UNSET_OPTIONS) <= kept, set(UNSET_OPTIONS) - kept  # exact allowlist
    assert all(reason.strip() for reason in UNSET_OPTIONS.values())
