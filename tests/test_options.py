"""One value, one constant: no package function keeps a defaulted
parameter that only tests set.

A parameter no workload sets is a second home for a value that already
lives in the function body (or in one module constant), or a second code
path that nothing but a test runs.  The scan reads every call site in the
package, ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py`` and flags a defaulted parameter of a module-level
or nested package function (methods and dunders are out of scope) when
each call site either omits it, passes its default value, or forwards a
same-default parameter of a function that is flagged too; a forward may
reach the parameter through a closure.  Calls in ``tests/`` (conftest
included) are not callers: a test that needs another value sets the
module constant with ``monkeypatch.setattr``.  Values are compared, not
spellings: a default or an argument written as an UPPER_CASE module
constant counts as the constant's literal value.

Three exemptions:

- a parameter that a ``perfbench/`` call passes by keyword is never
  flagged, because the benchmark's call shapes are fixed;
- ``sources/fixtures.py`` is out of scope: its generators exist for the
  tests (FIXTURES.md);
- ``_TEST_SEAMS`` names output channels a test reads, which change
  nothing the function computes.  An entry that a non-test caller sets,
  or whose parameter is gone, is stale and fails."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "amazon_s3_datalake_nmea0183_real_time_ingestion_spark"
PERFBENCH = ROOT / "perfbench"
FIXTURES = PACKAGE / "sources" / "fixtures.py"

_TEST_SEAMS = {
    "streaming.pipeline:start_streams.results":
        "a list the caller reads each batch's PipelineBatchResult from",
}


def _sources():
    yield from sorted(PACKAGE.rglob("*.py"))
    for extra in ("tools", "perfbench"):
        yield from sorted((ROOT / extra).glob("*.py"))
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"


_UNRESOLVED = object()


def _same(a, b):
    return type(a) is type(b) and a == b


def _constants(trees):
    """{name: literal value} of the UPPER_CASE module-level constants of
    the scanned files whose every definition assigns the same literal."""
    seen = {}
    for tree in trees:
        for stmt in tree.body:
            if not (isinstance(stmt, ast.Assign) and len(stmt.targets) == 1):
                continue
            name = getattr(stmt.targets[0], "id", "")
            if not name.lstrip("_").isupper():
                continue
            try:
                value = ast.literal_eval(stmt.value)
            except ValueError:
                value = _UNRESOLVED
            seen.setdefault(name, []).append(value)
    return {
        name: first
        for name, (first, *rest) in seen.items()
        if first is not _UNRESOLVED and all(_same(v, first) for v in rest)
    }


def _value(node, constants):
    """The literal value of an argument or default (a module constant
    resolves to its value), or its AST shape when it has none."""
    if isinstance(node, ast.Name) and node.id in constants:
        return constants[node.id]
    try:
        return ast.literal_eval(node)
    except ValueError:
        return ast.dump(node)


def _parents(tree):
    parent = {}
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            parent[child] = node
    return parent


def _signature(fn):
    """(positional names, {name: default node}) of a def."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            defaults[p.arg] = d
    return positional, defaults


def _rebinds(fn, name):
    """True when the body of ``fn`` binds ``name`` again, so forwarding it
    does not forward its default."""
    own = set(fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs)
    for node in ast.walk(fn):
        if isinstance(node, ast.Name) and node.id == name and not isinstance(node.ctx, ast.Load):
            return True
        if isinstance(node, ast.arg) and node.arg == name and node not in own:
            return True
    return False


def _enclosing_def(node, parent):
    node = parent.get(node)
    while node is not None and not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
        node = parent.get(node)
    return node if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) else None


def _owner(name, fn, parent):
    """The def whose parameter ``name`` is, seen from inside ``fn``: ``fn``
    itself, or an enclosing def reached through a closure.  None when a
    def on the way binds ``name`` itself."""
    while fn is not None:
        a = fn.args
        if name in {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}:
            return fn
        if _rebinds(fn, name):
            return None
        fn = _enclosing_def(fn, parent)
    return None


def _bind(call, positional, defaults):
    """{parameter: argument node} of one call, plus the parameters a
    ``*args`` or ``**kwargs`` argument may set."""
    bound, unknown = {}, set()
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            unknown.update(positional[i:])
            break
        if i < len(positional):
            bound[positional[i]] = arg
    for kw in call.keywords:
        if kw.arg is None:
            unknown.update(defaults)
        else:
            bound[kw.arg] = kw.value
    return bound, unknown


def _flagged():
    """({parameter key: default value} of every candidate, sorted keys of
    the candidates that no caller outside ``tests/`` sets)."""
    parsed = {path: ast.parse(path.read_text(), str(path)) for path in _sources()}
    constants = _constants(parsed.values())

    # A call resolves by bare name only, so two package functions that
    # share a name share their call sites (conservative).
    functions = {}  # name -> [(key prefix, positional, defaults)]
    prefix_of = {}  # def node -> key prefix
    candidates = {}  # parameter key -> default value
    for path, tree in parsed.items():
        if PACKAGE not in path.parents:
            continue
        module = path.relative_to(PACKAGE).with_suffix("").as_posix().replace("/", ".")
        parent = _parents(tree)
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if isinstance(parent[fn], ast.ClassDef) or fn.name.startswith("__"):
                continue
            positional, defaults = _signature(fn)
            prefix = prefix_of[fn] = f"{module}:{fn.name}"
            functions.setdefault(fn.name, []).append((prefix, positional, defaults))
            if path == FIXTURES:
                continue
            for name, default in defaults.items():
                candidates[f"{prefix}.{name}"] = _value(default, constants)

    blocked, forwards = set(), []  # forwards: (callee key, forwarding key)
    for path, tree in parsed.items():
        parent = _parents(tree)
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
            if name not in functions:
                continue
            caller = _enclosing_def(call, parent)
            for prefix, positional, defaults in functions[name]:
                bound, unknown = _bind(call, positional, defaults)
                for pname in defaults:
                    key = f"{prefix}.{pname}"
                    if key not in candidates:
                        continue
                    value, default = bound.get(pname), candidates[key]
                    owner = _owner(value.id, caller, parent) if isinstance(value, ast.Name) else None
                    owner_defaults = _signature(owner)[1] if owner is not None else {}
                    if pname in unknown:
                        blocked.add(key)
                    elif PERFBENCH in path.parents and any(kw.arg == pname for kw in call.keywords):
                        blocked.add(key)  # a fixed benchmark call shape
                    elif value is None or _same(_value(value, constants), default):
                        continue
                    elif (
                        isinstance(value, ast.Name)
                        and value.id in owner_defaults
                        and _same(_value(owner_defaults[value.id], constants), default)
                        and owner in prefix_of
                        and not _rebinds(owner, value.id)
                    ):
                        forwards.append((key, f"{prefix_of[owner]}.{value.id}"))
                    else:
                        blocked.add(key)

    # A forwarded default counts only while the forwarding parameter is
    # itself never set.
    changed = True
    while changed:
        changed = False
        for key, owner in forwards:
            if key not in blocked and owner in blocked:
                blocked.add(key)
                changed = True
    return candidates, sorted(set(candidates) - blocked)


def unset_options():
    """Sorted ``module:function.parameter`` names of package parameters
    that no caller outside ``tests/`` sets, less the test seams."""
    return [key for key in _flagged()[1] if key not in _TEST_SEAMS]


def test_no_parameter_every_caller_leaves_at_its_default():
    unset = unset_options()
    assert not unset, (
        f"{len(unset)} defaulted parameters are set by no caller outside "
        f"tests/; make each value a literal or a module constant: {unset}"
    )


def test_test_seams_has_no_stale_entry():
    candidates, flagged = _flagged()
    missing = sorted(key for key in _TEST_SEAMS if key not in candidates)
    assert not missing, f"_TEST_SEAMS names parameters that no longer exist: {missing}"
    set_elsewhere = sorted(key for key in _TEST_SEAMS if key not in flagged)
    assert not set_elsewhere, f"_TEST_SEAMS names parameters a non-test caller sets: {set_elsewhere}"
    assert all(reason.strip() for reason in _TEST_SEAMS.values())
