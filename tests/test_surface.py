"""The public surface is what something runs: every module-level package
function or class has a caller that a workload runs, or a named reason.

The scan is static (``ast``).  The roots are the registered (decorated)
functions in ``plans/``, the import-time statements of package modules,
and all code in ``bench.py``, ``__spark_entry__.py``, ``tools/*.py`` and
``perfbench/*.py`` (``perfbench/test_checks.py`` is a test, not a root).
A module-level package function, class or assignment is live when a root
or a live definition references its name (a bare name, an attribute, or
an imported name).  Names resolve by spelling only, so two definitions
that share a name share their callers.  Docstrings and ``__init__``
re-exports are not callers, and neither are the tests.

A function or class that is not live must be listed in
``_KEPT_WITHOUT_CALLER`` with a one-line reason; an entry that is live or
no longer exists is stale and fails the test too."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "amazon_s3_datalake_nmea0183_real_time_ingestion_spark"

_KEPT_WITHOUT_CALLER = {
    ("functions/vectors.py", "cosine_similarity"):
        "the library form the cosine_sim SQL function is checked against",
    ("operators/classify.py", "soh_branch"): "the reference's SOH branch (hello.py:79-96)",
    ("operators/classify.py", "sensor_branch"): "the reference's sensor branch (hello.py:79-96)",
    ("operators/dedup_ledger.py", "_read_ledger"): "reads admit_new_documents' ledger",
    ("operators/dedup_ledger.py", "admit_new_documents"):
        "exact-fingerprint admission ledger; its tests pin replay idempotency",
    ("operators/nmea_position.py", "sensor_positions"):
        "the reference's sensor-branch position parse (hello.py:79-96)",
    ("operators/pq.py", "_decode_col"): "pq_encode's helper",
    ("operators/pq.py", "_encode_col"): "pq_encode's helper",
    ("operators/pq.py", "_nest_codebooks"): "pq_encode's helper",
    ("operators/pq.py", "_sqdist"): "pq_encode's helper",
    ("operators/pq.py", "pq_encode"):
        "the declarative reference the pq_encode_blas kernel is tested against",
    ("operators/sketches.py", "cms_from_stream"):
        "occurrence-stream CMS builder, pinned equal to cms_from_counts",
    ("operators/skew.py", "salted_collect_set"):
        "skew-safe collect_set, pinned equal to the direct aggregation",
    ("sources/fixtures.py", "envelope_df"):
        "synthetic envelopes (FIXTURES.md) the ingest tests build",
    ("sources/fixtures.py", "envelope_rows"):
        "synthetic envelopes (FIXTURES.md) the ingest tests build",
    ("sources/maintenance.py", "compact_partition"):
        "at-rest compaction on the crawler's schedule",
    ("streaming/listener.py", "ProgressLogger"):
        "SURVEY's ops-logging row (StreamingQueryListener)",
    ("streaming/pipeline.py", "StreamRoute"): "the reference's POST /{stream-name} route",
    ("streaming/pipeline.py", "stream_route"): "the reference's POST /{stream-name} route",
    ("streaming/pipeline.py", "start_streams"):
        "the reference's POST /{stream-name}: one pipeline per stream",
    ("streaming/stateful.py", "battery_transitions"):
        "SURVEY's A14 alert row carried across micro-batches",
    ("streaming/stateful.py", "streaming_dedup"):
        "SURVEY's C1 streaming mapping (the one stateful op, line 448)",
    ("streaming/stateful.py", "streaming_sessions"): "SURVEY's C6 streaming mapping",
    ("streaming/stateful.py", "with_event_ts"):
        "the event-time column the stateful operators watermark on",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _root_files():
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"
    yield from sorted((ROOT / "tools").glob("*.py"))
    yield from (p for p in sorted((ROOT / "perfbench").glob("*.py")) if p.name != "test_checks.py")


def _names(node):
    """Every name ``node`` references: bare names, attributes and the
    names an import brings in."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _is_registered(fn):
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in fn.decorator_list
    )


def surface():
    """({(module, name): def node} of module-level package functions and
    classes, set of the live names)."""
    defs = {}  # name -> [node]; functions, classes and module-level assignments
    owners = {}  # (module, name) -> node, functions and classes only
    roots = []
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        docstring = tree.body[0] if ast.get_docstring(tree) is not None else None
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append(stmt)
                owners[(module, stmt.name)] = stmt
                if module.startswith("plans/") and _is_registered(stmt):
                    roots.append(stmt)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs.setdefault(n.id, []).append(stmt)
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue  # a re-export is not a caller
            elif stmt is not docstring:
                roots.append(stmt)  # runs at import time
    for path in _root_files():
        roots.append(ast.parse(path.read_text(), str(path)))

    live = {r.name for r in roots if isinstance(r, _DEFS)}
    todo = [n for r in roots for n in _names(r)]
    while todo:
        name = todo.pop()
        if name in live or name not in defs:
            continue
        live.add(name)
        for node in defs[name]:
            todo.extend(_names(node))
    return owners, live


def test_every_package_function_has_a_caller_or_a_reason():
    owners, live = surface()
    dead = sorted(key for key in owners if key[1] not in live)
    unlisted = [key for key in dead if key not in _KEPT_WITHOUT_CALLER]
    assert not unlisted, (
        f"{len(unlisted)} package functions or classes have no caller that a "
        f"workload runs; give each one a caller or delete it: {unlisted}"
    )


def test_kept_without_caller_has_no_stale_entry():
    owners, live = surface()
    missing = sorted(key for key in _KEPT_WITHOUT_CALLER if key not in owners)
    assert not missing, f"_KEPT_WITHOUT_CALLER names definitions that no longer exist: {missing}"
    called = sorted(key for key in _KEPT_WITHOUT_CALLER if key[1] in live)
    assert not called, f"_KEPT_WITHOUT_CALLER names definitions that now have a caller: {called}"
    assert all(reason.strip() for reason in _KEPT_WITHOUT_CALLER.values())
