"""Every top-level package def is reached from a declared entry point.

A pure-Python AST pass (no Spark).  Roots are ``__spark_entry__.py``,
``bench.py``, ``perfbench/*.py`` and the package's module-level
statements other than ``__all__``.  A top-level def is reached when its
name appears as an identifier (a name, an attribute or an imported name)
in a root or in a reached def; the pass iterates to a fixed point.
Identifier-like words inside string literals count as well: the serving
views are looked up by name (``getattr(S, "velocity_view")``).  Comments
do not count.  The unreached set must equal ``KEEP`` exactly, so new dead
code fails this test and so does a stale entry.
"""

from __future__ import annotations

import ast
import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "real_timetransactionaldatalakehouse_spark"

# Unreached on purpose: module-qualified name -> reason it stays.
KEEP = {
    "maintenance.maintenance_loop": "SURVEY M5: the reference's periodic maintenance job",
    "streaming.jobs.dims_scd2_stream": "SURVEY X6n: SCD2 dimension history from CDC",
    "streaming.jobs.scd2_dim_view": "SURVEY X6n: the as-of view over the SCD2 history",
    "streaming.jobs.stream_stream_time_join": "SURVEY X6g: stream-stream event-time join",
    "tablefmt.snapshots_table": "SURVEY X6i: the snapshots metadata table",
    "serving.register_gold_views_from_catalog": "SURVEY A8: gold views registered from the catalog",
    "functions.epoch_seconds_to_ts": "the reference's epoch-seconds event-time cast",
    "operators._png.encode_png": "builds the test inputs for decode_png",
    "operators.dedup._simhash_sig_udf": "the kernel the SWAR simhash is tested against",
    "plans.*": "plan-shape helpers for the plan assertions in tests",
}


def _identifiers(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(re.findall(r"[A-Za-z_]\w*", n.value))
    return out


def _is_all(stmt: ast.stmt) -> bool:
    return isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    )


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, os.path.join(ROOT, PACKAGE))[: -len(".py")]
    parts = rel.split(os.sep)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _unreached() -> set[str]:
    defs: dict[str, ast.AST] = {}  # qualified name -> def node
    seen: set[str] = set()
    for path in glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True):
        mod = _module_name(path)
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}.{stmt.name}"] = stmt
            elif not _is_all(stmt):
                seen |= _identifiers(stmt)
    roots = ["__spark_entry__.py", "bench.py", *sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))]
    for path in roots:
        with open(os.path.join(ROOT, path)) as fh:
            seen |= _identifiers(ast.parse(fh.read(), path))

    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        for qual, node in defs.items():
            if qual not in reached and qual.rsplit(".", 1)[-1] in seen:
                reached.add(qual)
                seen |= _identifiers(node)
                grew = True
    return set(defs) - reached


def _matches(key: str, qual: str) -> bool:
    return qual == key or (key.endswith(".*") and qual.startswith(key[:-1]))


def test_every_package_def_is_reached_or_kept():
    unreached = _unreached()
    unexpected = sorted(q for q in unreached if not any(_matches(k, q) for k in KEEP))
    assert not unexpected, f"unreached defs not in KEEP: {unexpected}"
    stale = sorted(k for k in KEEP if not any(_matches(k, q) for q in unreached))
    assert not stale, f"KEEP entries that are reached or gone: {stale}"
