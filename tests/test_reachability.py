"""Every package def is reached from a declared entry point.

A pure-Python AST pass (no Spark).  Roots are ``bench.py``,
``perfbench/*.py``, the package's module-level statements other than
``__all__``, the bodies of the defs in ``KEEP``, and the declared part
of ``__spark_entry__.py``: its ``@_q``-registered query defs, the
driver contract (``entry``, ``queries``, ``oracle_sql``) and its
module-level statements other than assignments.  The defs are the
top-level functions and classes and each non-dunder method of a
top-level class (``catalog.Catalog.read``); a class's own statements
and dunder methods go with the class.  In ``__spark_entry__.py`` the
other top-level functions and each module-level assignment (an oracle
string, a CTE, a registry) are defs too, so a query def that is never
registered reaches nothing, and neither do the oracles only it names.
A def is reached when its name is used (a name or an attribute) in a
root or in a reached def; the pass iterates to a fixed point.
Identifier-like words inside string literals count as well: the serving
views are looked up by name (``getattr(S, "velocity_view")``).  Imports
do not count: an ``__init__`` re-export or an import nothing uses does
not run the def.  Comments and docstrings (of modules, classes and
defs) do not count either: prose that names a def does not run it.

Matching is by bare name, so a method named like anything used
elsewhere is invisible to the pass: a ``write``, ``properties`` or
``register_views`` method counts as reached by Spark's ``df.write``,
any ``.properties`` attribute or ``sources.register_views``.

A kept def seeds the walk, so its callees need no entries of their own.
The unreached set must equal ``KEEP`` exactly: new dead code fails this
test, and so does a stale entry (a kept def the walk reaches anyway, or
one that is gone).
"""

from __future__ import annotations

import ast
import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "real_timetransactionaldatalakehouse_spark"
DRIVER = "__spark_entry__"
# the driver contract: what the driver calls besides the registered queries
CONTRACT = {"entry", "queries", "oracle_sql"}

# Unreached on purpose: module-qualified name -> reason it stays.
KEEP = {
    "maintenance.maintenance_loop": "SURVEY M5: the reference's periodic maintenance job",
    "streaming.jobs.dims_scd2_stream": "SURVEY X6n: SCD2 dimension history from CDC",
    "streaming.jobs.scd2_dim_view": "SURVEY X6n: the as-of view over the SCD2 history",
    "streaming.jobs.stream_stream_time_join": "SURVEY X6g: stream-stream event-time join",
    "tablefmt.snapshots_table": "SURVEY X6i: the snapshots metadata table",
    "functions.epoch_seconds_to_ts": "the reference's epoch-seconds event-time cast",
    "operators.dedup._simhash_sig_udf": "the kernel the SWAR simhash is tested against",
    "operators.similarity.knn_bruteforce": "the exact kNN the LSH and IVF kNN tests compare against",
    "streaming.stateful.ewma_by_key": "SURVEY X7: streaming twin of the declared q_ewma_state",
    "streaming.stateful.ewma_anomaly_by_key": "SURVEY X8: streaming twin of the declared q_ewma_anomaly",
    "sources.filestream.kafka_stream": "SURVEY A1: the reference's Kafka source",
    "streaming.jobs.neardup_ingest_stream": "SURVEY X6v: streaming near-dup ingest against a band index",
    "operators.multimodal.deterministic_fake_features": "the Python reference fake_features_expr is tested against",
    "plans.*": "plan-shape helpers for the plan assertions in tests",
}


_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _parse(source: str, filename: str = "<src>") -> ast.Module:
    """Parse ``source`` with every docstring blanked, so that words in
    docstrings never reach a def."""
    tree = ast.parse(source, filename)
    for n in ast.walk(tree):
        if isinstance(n, _DOC_OWNERS) and ast.get_docstring(n, clean=False) is not None:
            n.body[0].value.value = ""
    return tree


def _identifiers(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
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


def _is_method(stmt: ast.stmt) -> bool:
    """A class-body def counted on its own (not a dunder)."""
    return isinstance(stmt, _FUNCS) and not (
        stmt.name.startswith("__") and stmt.name.endswith("__")
    )


def _matches(key: str, qual: str) -> bool:
    return qual == key or (key.endswith(".*") and qual.startswith(key[:-1]))


def _is_registered(stmt: ast.stmt) -> bool:
    """A def decorated ``@_q(...)``: a query the driver runs."""
    return isinstance(stmt, _FUNCS) and any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "_q"
        for d in stmt.decorator_list
    )


def _assigned(stmt: ast.stmt) -> list[str]:
    """The names a module-level assignment binds (none for any other
    statement)."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
        targets = [stmt.target]
    else:
        return []
    return [
        n.id for t in targets for n in ast.walk(t)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    ]


def _unreached_in(
    modules: dict[str, ast.Module], roots: list[ast.Module], keep=()
) -> set[str]:
    """Qualified names of the top-level defs in ``modules`` (module name
    -> tree) that neither ``roots``, the modules' own top-level
    statements nor the bodies of the ``keep`` defs reach.  A module
    named ``DRIVER`` is read by the driver rule (module docstring)."""
    defs: dict[str, list[ast.AST]] = {}  # qualified name -> its nodes
    seen: set[str] = set()
    for mod, tree in modules.items():
        driver = mod == DRIVER
        for stmt in tree.body:
            if driver and (_is_registered(stmt) or getattr(stmt, "name", None) in CONTRACT):
                seen |= _identifiers(stmt)
            elif isinstance(stmt, _FUNCS):
                defs[f"{mod}.{stmt.name}"] = [stmt]
            elif isinstance(stmt, ast.ClassDef):
                # the class node keeps only what runs with the class
                cls = ast.ClassDef(**{**vars(stmt), "body": []})
                for m in stmt.body:
                    if _is_method(m):
                        defs[f"{mod}.{stmt.name}.{m.name}"] = [m]
                    else:
                        cls.body.append(m)
                defs[f"{mod}.{stmt.name}"] = [cls]
            elif driver and _assigned(stmt):
                for name in _assigned(stmt):
                    defs.setdefault(f"{mod}.{name}", []).append(stmt)
            elif not _is_all(stmt):
                seen |= _identifiers(stmt)
    for tree in roots:
        seen |= _identifiers(tree)
    for qual, nodes in defs.items():
        if any(_matches(k, qual) for k in keep):
            for node in nodes:
                seen |= _identifiers(node)

    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        for qual, nodes in defs.items():
            if qual not in reached and qual.rsplit(".", 1)[-1] in seen:
                reached.add(qual)
                for node in nodes:
                    seen |= _identifiers(node)
                grew = True
    return set(defs) - reached


def _read(path: str) -> ast.Module:
    with open(path) as fh:
        return _parse(fh.read(), path)


def _unreached() -> set[str]:
    modules = {
        _module_name(path): _read(path)
        for path in glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)
    }
    modules[DRIVER] = _read(os.path.join(ROOT, f"{DRIVER}.py"))
    roots = ["bench.py", *sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))]
    return _unreached_in(modules, [_read(os.path.join(ROOT, path)) for path in roots], KEEP)


def test_every_package_def_is_reached_or_kept():
    unreached = _unreached()
    unexpected = sorted(q for q in unreached if not any(_matches(k, q) for k in KEEP))
    assert not unexpected, f"unreached defs not in KEEP: {unexpected}"
    stale = sorted(k for k in KEEP if not any(_matches(k, q) for q in unreached))
    assert not stale, f"KEEP entries that are reached or gone: {stale}"


def test_docstrings_do_not_reach_but_string_literals_do():
    mod = _parse('''
"""Module docstring naming by_module_doc."""


def by_module_doc(): pass
def by_class_doc(): pass
def by_def_doc(): pass
def by_literal(): pass
def by_call(): pass


class Entry:
    """Class docstring naming by_class_doc."""

    def run(self):
        """Def docstring naming by_def_doc."""
        by_call()
        return getattr(self, "by_literal")
''')
    assert _unreached_in({"m": mod}, [_parse("Entry().run()")]) == {
        "m.by_module_doc", "m.by_class_doc", "m.by_def_doc",
    }


_SYNTHETIC_PKG = {
    "pkg": """
from .m import only_imported, reexported

__all__ = ["reexported"]
""",
    "m": """
def only_imported(): pass
def reexported(): pass
def kept(): return helper()
def helper(): pass
def called(): pass
""",
}
_SYNTHETIC_ROOT = "from pkg.m import only_imported, called\ncalled()"


def _synthetic():
    modules = {name: _parse(src) for name, src in _SYNTHETIC_PKG.items()}
    return modules, [_parse(_SYNTHETIC_ROOT)]


def test_imports_and_reexports_do_not_reach():
    assert _unreached_in(*_synthetic()) == {
        "m.only_imported", "m.reexported", "m.kept", "m.helper",
    }


def test_methods_count_as_defs():
    mod = _parse('''
class Table:
    def __init__(self):
        self.from_init()

    def from_init(self): pass
    def called(self): pass
    def uncalled(self): return self.only_from_uncalled()
    def only_from_uncalled(self): pass
''')
    assert _unreached_in({"m": mod}, [_parse("Table().called()")]) == {
        "m.Table.uncalled", "m.Table.only_from_uncalled",
    }


def test_kept_defs_seed_the_walk():
    assert _unreached_in(*_synthetic(), {"m.kept"}) == {
        "m.only_imported", "m.reexported", "m.kept",
    }


_SYNTHETIC_DRIVER = '''
import atexit
from pkg import m

_QUERIES = {}
_ORACLE = "SELECT 1"
_STAGED_ORACLE = "SELECT 2"


def _q(name, oracle=None):
    def deco(fn):
        _QUERIES[name] = fn
        return fn
    return deco


def _cleanup(): pass


@_q("q_declared", _ORACLE)
def q_declared(spark, sf_dir):
    return m.declared_op()


def _staged_q(spark, sf_dir):
    return m.staged_op()


_STAGED = {"q_staged": (_staged_q, _STAGED_ORACLE)}


def queries():
    return dict(_QUERIES)


atexit.register(_cleanup)
'''


def test_driver_roots_are_its_registered_queries_and_contract():
    """An unregistered query def, its oracle and the registry that
    holds them reach nothing; a registered query, the contract and a
    module-level call do."""
    modules = {
        "m": _parse("def declared_op(): pass\ndef staged_op(): pass\n"),
        DRIVER: _parse(_SYNTHETIC_DRIVER),
    }
    assert _unreached_in(modules, []) == {
        f"{DRIVER}._staged_q", f"{DRIVER}._STAGED_ORACLE", f"{DRIVER}._STAGED",
        "m.staged_op",
    }


def _unused_imports(tree: ast.Module) -> list[str]:
    """The names ``tree``'s imports bind (``__future__`` aside) that no
    name in ``tree`` uses and its ``__all__`` does not re-export, with
    the line of their import."""
    bound: dict[str, int] = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            for a in n.names:
                bound[a.asname or a.name.split(".")[0]] = n.lineno
        elif isinstance(n, ast.ImportFrom) and n.module != "__future__":
            for a in n.names:
                bound[a.asname or a.name] = n.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for stmt in tree.body:
        if _is_all(stmt):
            used |= {e.value for e in stmt.value.elts}
    return [f"{name}:{line}" for name, line in sorted(bound.items()) if name not in used]


def test_package_modules_use_their_imports():
    """Each package module uses every name it imports; an ``__init__``
    may instead re-export it through ``__all__``."""
    unused = {}
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)):
        names = _unused_imports(_read(path))
        if names:
            unused[os.path.relpath(path, ROOT)] = names
    assert not unused, f"unused imports: {unused}"
