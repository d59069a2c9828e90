"""Source-hash manifest for the query registry — the asserted form of
the rotation-queue discipline in queries/__init__.py.

The recurring failure mode (r11: seven queries; r12: graph_k_core):
a registry query's PLAN is rewritten after the driver window froze,
so its green CORRECTNESS row predates the code that actually ships.
The fix is a committed manifest of per-query source hashes plus a
test (test_window_invariant.py) that fails whenever a query's
current source differs from its manifest hash UNLESS that query sits
in the next window's `_PRIORITY` block — i.e. a changed plan MUST be
queued for re-verification before it can ship.

The hash is TRANSITIVE: it covers the query function's own source,
its oracle SQL, and — recursively — the source of every
package-internal function/class it references (via its code object's
names, nested code objects, and any `from ... import` statements in
its body, so `from ..operators.graph import k_core_pairs` pulls
k_core_pairs' source into graph_k_core's hash; rewriting the
operator flags the query). A referenced class's methods are walked
the same way, so `TableEnvironment(spark, sf_dir)` pulls in what
`__init__` and `sql_query` call (`catalog.load_table`,
`plans.match_recognize.match_recognize`, ...).

Sources are NORMALIZED before hashing — parsed to an AST, docstrings
stripped, re-unparsed — so comment and docstring edits do NOT flag a
query; only code that can change the plan does. (The first round-13
manifest hashed raw source and flagged a docstring tweak, which is
noise the invariant shouldn't generate.)

Regenerate with::

    python -m tests.query_manifest            # strict: refuses to
                                              # re-hash queries not in
                                              # _PRIORITY
    python -m tests.query_manifest --bootstrap  # first run only
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import inspect
import json
import os
import textwrap
import types

PKG = "flink_1_11_2_with_comments_spark"
MANIFEST_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "query_source_manifest.json")

_CONST_TYPES = (str, bytes, int, float, bool, tuple, frozenset)


def _is_internal(obj) -> bool:
    mod = getattr(obj, "__module__", None)
    return bool(mod) and (mod == PKG or mod.startswith(PKG + "."))


def _code_names(code: types.CodeType) -> set[str]:
    """All global names referenced by a code object and every code
    object nested inside it (inner functions, lambdas, comprehensions)."""
    names = set(code.co_names)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _code_names(const)
    return names


def _strip_docstrings(tree: ast.AST) -> ast.AST:
    """Remove docstring Expr nodes from modules/classes/functions so
    documentation edits don't change the hash."""
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            body = getattr(node, "body", [])
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                node.body = body[1:] or [ast.Pass()]
    return tree


def _normalize_source(src: str) -> str:
    """Comment/docstring-insensitive canonical form: parse → strip
    docstrings → unparse. Falls back to the raw source if the
    fragment doesn't parse standalone (decorated snippets)."""
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return src
    return ast.unparse(ast.fix_missing_locations(
        _strip_docstrings(tree)))


def _imported_objects(src: str, module_name: str):
    """Objects pulled in by `from X import Y` statements inside the
    function body (function-local imports don't appear in __globals__,
    so resolve them from the AST)."""
    out = []
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:  # decorated source fragments; globals cover it
        return out
    package = module_name.rpartition(".")[0]
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        target = "." * node.level + (node.module or "")
        try:
            mod = importlib.import_module(target, package=package)
        except Exception:
            continue
        for alias in node.names:
            obj = getattr(mod, alias.name, None)
            if obj is not None:
                out.append(obj)
    return out


def _methods(cls) -> list:
    """The functions a class defines: plain, static and class methods
    and property accessors."""
    out = []
    for attr in vars(cls).values():
        if isinstance(attr, (staticmethod, classmethod)):
            attr = attr.__func__
        if isinstance(attr, property):
            out.extend(f for f in (attr.fget, attr.fset, attr.fdel) if f)
        elif isinstance(attr, types.FunctionType):
            out.append(attr)
    return out


def reachable_sources(fn, extra: str = "") -> dict[str, str]:
    """Normalized source of fn and of every package-internal function,
    class and method reachable from it, plus the repr of every
    referenced module-level constant, keyed by qualified name
    (``module.qualname``; constants as ``module:name``). `extra` (the
    oracle SQL) is the ``__extra__`` entry."""
    chunks: dict[str, str] = {"__extra__": extra}
    pending = [fn]
    seen: set[int] = set()
    while pending:
        obj = pending.pop()
        if id(obj) in seen:
            continue
        seen.add(id(obj))
        if isinstance(obj, (types.FunctionType, types.MethodType)):
            f = inspect.unwrap(obj)
            if not _is_internal(f):
                continue
            try:
                src = inspect.getsource(f)
            except (OSError, TypeError):
                continue
            key = f"{f.__module__}.{f.__qualname__}"
            if key in chunks:
                continue
            chunks[key] = _normalize_source(src)
            for nxt in _imported_objects(src, f.__module__):
                pending.append(nxt)
            g = getattr(f, "__globals__", {})
            for name in sorted(_code_names(f.__code__)):
                ref = g.get(name)
                if ref is None:
                    continue
                if isinstance(ref, _CONST_TYPES):
                    chunks.setdefault(
                        f"{f.__module__}:{name}", repr(ref))
                elif callable(ref) or inspect.isclass(ref):
                    pending.append(ref)
        elif inspect.isclass(obj) and _is_internal(obj):
            try:
                src = inspect.getsource(obj)
            except (OSError, TypeError):
                continue
            chunks.setdefault(f"{obj.__module__}.{obj.__qualname__}",
                              _normalize_source(src))
            pending.extend(_methods(obj))
    return chunks


def transitive_source_hash(fn, extra: str = "") -> str:
    """sha256 over :func:`reachable_sources`."""
    payload = "\n\x00\n".join(
        f"{k}\n{v}" for k, v in sorted(reachable_sources(fn, extra).items()))
    return hashlib.sha256(payload.encode()).hexdigest()


def compute_manifest() -> dict[str, str]:
    from flink_1_11_2_with_comments_spark import queries as q
    specs = q.all_specs()
    return {name: transitive_source_hash(spec.fn, spec.oracle or "")
            for name, spec in sorted(specs.items())}


def load_manifest() -> dict[str, str]:
    with open(MANIFEST_PATH) as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    from flink_1_11_2_with_comments_spark import queries as q
    bootstrap = "--bootstrap" in argv
    current = compute_manifest()
    if bootstrap or not os.path.exists(MANIFEST_PATH):
        old: dict[str, str] = {}
    else:
        old = load_manifest()
    window = set(q._PRIORITY)
    blocked = [n for n, h in current.items()
               if old.get(n) not in (None, h) and n not in window]
    if blocked and not bootstrap:
        print("REFUSED: source changed for queries NOT in the next "
              "driver window (_PRIORITY). Queue them first:")
        for n in blocked:
            print(f"  {n}")
        return 1
    with open(MANIFEST_PATH, "w") as fh:
        json.dump(current, fh, indent=0, sort_keys=True)
        fh.write("\n")
    changed = [n for n in current if old.get(n) != current[n]]
    print(f"manifest written: {len(current)} queries, "
          f"{len(changed)} hash(es) updated")
    for n in changed[:50]:
        print(f"  updated: {n}")
    return 0


if __name__ == "__main__":
    import sys
    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    raise SystemExit(main(sys.argv[1:]))
