"""Source fingerprints for code-change-aware driver rotation.

Round-11 verdict item 2: the driver's bounded check window rotated on
staleness alone, so a query whose Spark or oracle leg was MODIFIED
after its last driver green waited its staleness turn (up to 5 rounds)
before the driver re-verified the changed code. The fix is a per-query
content hash recorded at the code state the driver last greened
(``QUERY_HASHES.json``, maintained by ``tools/query_hashes.py``);
``plans/registry.py::query_map`` compares it against the CURRENT
fingerprint and promotes mismatches into a rotation tier between
"never verified" and "stalest green". Nothing fingerprints at import
time: ``query_map()`` and ``tools/query_hashes.py snapshot`` are the
callers, and each pays one pass (about 1.7 s CPU for 298 queries on a
4-core x86 VM; each function's source is read once per process).

The fingerprint must change when the query's behavior might have:
:func:`query_fingerprint` hashes the query function's source PLUS the
sources of every package-local function/class it transitively
references (through globals, closure cells, defaults, ``mod.attr``
access, function-local imports, and nested code objects), plus the
oracle SQL. A fix deep in ``operators/forecast.py`` therefore
re-fingerprints every forecast query even though the registered query
functions themselves did not change. False positives (a comment edit
re-flags a query) only cost one early recheck — the safe
direction. The result does not depend on which package modules the
process has already imported: a function-local ``from pkg import
submod`` imports the submodule itself.

The result does not depend on which module a function lives in
either: each recorded function is hashed by its qualified name and
source alone, so moving a query or helper verbatim from one module to
another keeps every fingerprint. The walk still keys functions by
(module, qualified name), so same-named functions in two modules are
both recorded.

STDLIB-ONLY module by design: ``tools/query_hashes.py`` loads this
file standalone (``importlib.util.spec_from_file_location``) and
applies it to registries imported from historical git worktrees, so it
must not import pyspark or any package sibling at module level.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import importlib
import inspect
import textwrap
import types

PKG_PREFIX = "steam_data_pipeline_spark"

# Constant kinds whose repr is stable across processes (str hashing is
# per-process-randomized, so sets/dicts are deliberately excluded).
_CONST_TYPES = (int, float, complex, bool, str, bytes, type(None))


def _is_const_name(name: str) -> bool:
    """Dunder module attrs (``__file__``, ``__spec__``…) are
    environment-dependent — a worktree snapshot and the live repo would
    disagree forever — so they never participate."""
    return not name.startswith("__")


def _const_repr(v, depth: int = 0) -> str | None:
    """Stable repr for a module-level constant, or None if ``v`` is not
    a simple-constant kind. Behavior-bearing constants (thresholds,
    scales, column tuples) must participate in the fingerprint — a
    ``QUANT_BOUND``-style edit changes behavior without changing any
    function source (round-12 ADVICE item 1)."""
    if isinstance(v, _CONST_TYPES):
        return repr(v)
    if isinstance(v, tuple) and depth < 3:
        parts = [_const_repr(x, depth + 1) for x in v]
        if all(p is not None for p in parts):
            return "(" + ",".join(parts) + ")"
    return None

# (module, qualname) -> source text; valid within one code state (one
# process), which is how both the registry and the snapshot tool run.
_SOURCE_CACHE: dict[tuple[str, str], str] = {}


def _source_of(obj, key: tuple[str, str]) -> str:
    if key in _SOURCE_CACHE:
        return _SOURCE_CACHE[key]
    try:
        src = inspect.getsource(obj)
    except (OSError, TypeError):  # builtins / exec'd code: stable token
        src = f"<nosource:{key[1]}>"
    _SOURCE_CACHE[key] = src
    return src


def _code_names(code: types.CodeType) -> set[str]:
    """Global names referenced by a code object and every code object
    nested inside it (comprehensions, lambdas, inner defs)."""
    names: set[str] = set()
    stack = [code]
    while stack:
        c = stack.pop()
        names.update(c.co_names)
        for const in c.co_consts:
            if isinstance(const, types.CodeType):
                stack.append(const)
    return names


def _walk(obj, out: dict[tuple[str, str], str]) -> None:
    """Record the source of ``obj`` (if package-local) and recurse into
    everything it references that is also package-local."""
    while isinstance(obj, functools.partial):
        for a in obj.args:
            _walk(a, out)
        for a in obj.keywords.values():
            _walk(a, out)
        obj = obj.func
    if inspect.ismethod(obj):
        obj = obj.__func__
    if inspect.isfunction(obj):
        mod = getattr(obj, "__module__", "") or ""
        if not mod.startswith(PKG_PREFIX):
            return
        key = (mod, obj.__qualname__)
        if key in out:
            return
        out[key] = _source_of(obj, key)
        names = _code_names(obj.__code__)
        g = obj.__globals__
        for name in sorted(names):
            if name in g:
                v = g[name]
                r = _const_repr(v) if _is_const_name(name) else None
                if r is not None:
                    out[(mod, f"<const:{name}>")] = r
                else:
                    _resolve(v, names, out)
        _walk_local_imports(out[key], names, out)
        for cell in obj.__closure__ or ():
            try:
                v = cell.cell_contents
            except ValueError:  # pragma: no cover - unfilled cell
                continue
            _walk(v, out)
        for d in obj.__defaults__ or ():
            _walk(d, out)
        for d in (obj.__kwdefaults__ or {}).values():
            _walk(d, out)
    elif inspect.isclass(obj):
        mod = getattr(obj, "__module__", "") or ""
        if not mod.startswith(PKG_PREFIX):
            return
        key = (mod, obj.__qualname__)
        if key in out:
            return
        out[key] = _source_of(obj, key)
        for v in vars(obj).values():
            if isinstance(v, (staticmethod, classmethod)):
                v = v.__func__
            if inspect.isfunction(v):
                _walk(v, out)  # records method refs (source dup is harmless)
    elif not inspect.ismodule(obj):
        # wrapper objects (pyspark UserDefinedFunction, @udtf handles):
        # follow the conventional .func attribute to the Python callable
        inner = getattr(obj, "func", None)
        if inner is not None and inner is not obj and callable(inner):
            _walk(inner, out)


def _resolve(v, names: set[str], out: dict[tuple[str, str], str]) -> None:
    """A referenced global: walk it directly, or — for a package-local
    module accessed as ``mod.attr`` — walk every referenced attribute
    name that resolves on it (co_names lists 'mod' and 'attr'
    separately, so this recovers the attribute accesses)."""
    if inspect.ismodule(v):
        if (getattr(v, "__name__", "") or "").startswith(PKG_PREFIX):
            for name in sorted(names):
                a = getattr(v, name, None)
                if a is None:
                    continue
                if inspect.isfunction(a) or inspect.isclass(a):
                    _walk(a, out)
                elif _is_const_name(name):
                    r = _const_repr(a)
                    if r is not None:
                        out[(v.__name__, f"<const:{name}>")] = r
    else:
        _walk(v, out)


def _walk_local_imports(
    src: str, names: set[str], out: dict[tuple[str, str], str]
) -> None:
    """Resolve function-LOCAL package imports from the AST of the
    function's recorded source ``src``.

    ``from pkg.mod import helper`` inside a function body binds at call
    time, never through ``__globals__`` — so the globals walk alone
    missed those helpers entirely (round-12 gap: the
    ``operators/asof.py`` forward-asof rewrite did not re-flag
    ``join_asof_forward``, whose only reference to the operator is a
    local import). The source is the whole function body, so
    ``ast.walk`` also covers imports in nested defs.

    ``from pkg import submod`` is imported as ``pkg.submod`` when the
    package does not have it as an attribute yet, so the fingerprint
    does not depend on which modules the process happened to import
    before."""
    try:
        tree = ast.parse(textwrap.dedent(src))
    except (SyntaxError, ValueError):
        return
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.level != 0 or not (node.module or "").startswith(
                PKG_PREFIX
            ):
                continue
            try:
                m = importlib.import_module(node.module)
            except Exception:  # noqa: BLE001 - unimportable: skip
                continue
            for alias in node.names:
                a = getattr(m, alias.name, None)
                if a is None:
                    try:
                        a = importlib.import_module(
                            f"{node.module}.{alias.name}"
                        )
                    except Exception:  # noqa: BLE001 - not a module: skip
                        continue
                if inspect.ismodule(a):
                    _resolve(a, names, out)
                    continue
                r = (_const_repr(a)
                     if _is_const_name(alias.name) else None)
                if r is not None:
                    out[(node.module, f"<const:{alias.name}>")] = r
                else:
                    _walk(a, out)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if not alias.name.startswith(PKG_PREFIX):
                    continue
                try:
                    m = importlib.import_module(alias.name)
                except Exception:  # noqa: BLE001 - unimportable: skip
                    continue
                _resolve(m, names, out)


def query_fingerprint(spark_fn, oracle: str | None) -> str:
    """Deterministic hex digest of a query's Spark leg (transitive
    package-local source closure) and oracle SQL. Each recorded
    function enters as (qualified name, source), sorted without its
    module, so moving code verbatim between modules keeps the digest."""
    out: dict[tuple[str, str], str] = {}
    _walk(spark_fn, out)
    h = hashlib.sha256()
    for qual, src in sorted((qual, src) for (_, qual), src in out.items()):
        h.update(f"{qual}\n".encode("utf-8", "replace"))
        h.update(src.encode("utf-8", "replace"))
        h.update(b"\x00")
    h.update(b"\x01")
    h.update((oracle or "").encode("utf-8", "replace"))
    return h.hexdigest()
