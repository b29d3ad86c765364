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

The same walk then checks parameters: a defaulted parameter of a
reached def needs two values in use, or it is a constant dressed as an
option.  Its values come from every call that runs (a root, a module's
own statements, a kept or reached def), matched by callee name like
the def pass: a call that omits it uses the default, a literal uses
its own value (one equal to the default counts as the default), a
positional argument counts the same way (after ``self`` for a method,
and a class call reaches ``__init__``), and any other expression,
``*args`` included, counts as two values — a pass-through never fails
here; it resolves once its source is a constant.  A ``**name``
argument that forwards the enclosing def's own ``**name`` parameter
fills only the keywords that running calls put into it (followed down
a chain of such relays); any other ``**`` argument may fill every
parameter.  A reached def's ``**`` parameter that no running call
feeds is reported too, as ``def(**name)``.  A parameter that a
``perfbench/*.py`` call passes is exempt: the benchmark's call
signatures are frozen.  A def used as a value
(``make = session.batch_session``) or kept in ``KEEP`` is called where
the pass cannot see, so its parameters take any value and its ``**``
parameter carries any keyword.  The single-valued set must equal
``KEEP_PARAMS`` exactly, stale entries included.
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

# Single-valued on purpose: ``def(param)`` (the def part may end in
# ``.*``) -> reason.  Only three kinds stay: a deployment setting, an
# input check, or a SURVEY-row capability that runs only at scale and
# that a named test lowers to reach.
KEEP_PARAMS = {
    "session.*(cpus)": "deployment setting: local[N] parallelism",
    "operators.similarity.*(validate)": "input check: the opt-in valid_embeddings gate",
    "operators.similarity.valid_embeddings(dim)": "input check: drops vectors of the wrong width",
    "maintenance.compact(target_file_bytes)": (
        "SURVEY M1 128 MB target; test_tablefmt::test_compact_sizes_files_off_cold_subset lowers it"
    ),
    "operators.similarity.semantic_dedup(max_cell)": (
        "SURVEY X6ae skew cap; test_properties::test_semdedup_cell_cap_exactness_and_refinement lowers it"
    ),
    "operators.similarity.embedding_neardup_pairs_lsh(max_bucket)": (
        "SURVEY X3 hot-bucket split; test_llm_ops::test_embed_neardup_lsh_max_bucket lowers it"
    ),
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


def _walk(modules: dict[str, ast.Module], roots: list[ast.Module], keep=()):
    """The def pass: (qualified name -> its nodes, the reached names,
    the nodes that run).  The nodes that run are the roots, the
    modules' own top-level statements, the kept defs and the reached
    defs.  A module named ``DRIVER`` is read by the driver rule (module
    docstring)."""
    defs: dict[str, list[ast.AST]] = {}  # qualified name -> its nodes
    run: list[ast.AST] = list(roots)
    for mod, tree in modules.items():
        driver = mod == DRIVER
        for stmt in tree.body:
            if driver and (_is_registered(stmt) or getattr(stmt, "name", None) in CONTRACT):
                run.append(stmt)
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
                run.append(stmt)
    for qual, nodes in defs.items():
        if any(_matches(k, qual) for k in keep):
            run.extend(nodes)
    seen: set[str] = set()
    for node in run:
        seen |= _identifiers(node)

    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        for qual, nodes in defs.items():
            if qual not in reached and qual.rsplit(".", 1)[-1] in seen:
                reached.add(qual)
                run.extend(nodes)
                for node in nodes:
                    seen |= _identifiers(node)
                grew = True
    return defs, reached, run


def _unreached_in(
    modules: dict[str, ast.Module], roots: list[ast.Module], keep=()
) -> set[str]:
    """Qualified names of the top-level defs in ``modules`` (module name
    -> tree) that neither ``roots``, the modules' own top-level
    statements nor the bodies of the ``keep`` defs reach."""
    defs, reached, _ = _walk(modules, roots, keep)
    return set(defs) - reached


_LIVE = {("live", 1), ("live", 2)}  # a non-literal argument: any value
_DEFAULT = ("default",)


def _value(node: ast.AST):
    """A literal's value, tagged with its type (``1`` is not ``True``)."""
    value = ast.literal_eval(node)
    return type(value).__name__, repr(value)


def _calls(tree: ast.AST, fn=None):
    """(bare callee name, call, the innermost def around it or None)
    for each call in ``tree``."""
    fn = tree if isinstance(tree, _FUNCS) else fn
    for child in ast.iter_child_nodes(tree):
        if isinstance(child, ast.Call):
            f = child.func
            yield (f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)), child, fn
        yield from _calls(child, fn)


def _callables(modules: dict[str, ast.Module], reached: set[str]):
    """Bare call name -> [(positional parameter names, parameter name ->
    default node or None)] for each reached def, parameters named
    ``def(param)``.  A method's positional parameters skip ``self``,
    and a class is called through its ``__init__``."""
    out: dict[str, list] = {}

    def add(call_name, qual, fn, offset):
        a = fn.args
        pos = a.posonlyargs + a.args
        defaults = [None] * (len(pos) - len(a.defaults)) + list(a.defaults)
        names = [f"{qual}({p.arg})" for p in pos[offset:]]
        params = dict(zip(names, defaults[offset:]))
        params |= {f"{qual}({p.arg})": d for p, d in zip(a.kwonlyargs, a.kw_defaults)}
        out.setdefault(call_name, []).append((names, params))

    for mod, tree in modules.items():
        for stmt in tree.body:
            qual = f"{mod}.{getattr(stmt, 'name', '')}"
            if isinstance(stmt, _FUNCS) and qual in reached:
                add(stmt.name, qual, stmt, 0)
            elif isinstance(stmt, ast.ClassDef) and qual in reached:
                for m in stmt.body:
                    if not isinstance(m, _FUNCS):
                        continue
                    static = any(getattr(d, "id", None) == "staticmethod" for d in m.decorator_list)
                    if m.name == "__init__":
                        add(stmt.name, f"{qual}.__init__", m, 1)
                    elif _is_method(m) and f"{qual}.{m.name}" in reached:
                        add(m.name, f"{qual}.{m.name}", m, 0 if static else 1)
    return out


def _spread(value: ast.AST, fn, carried: dict) -> set[str]:
    """The keyword names a ``**value`` argument may carry: what running
    calls pass into the enclosing def's own ``**`` parameter when
    ``value`` is that parameter, else any name (``"*"``)."""
    kwarg = fn.args.kwarg if fn is not None else None
    if kwarg is not None and isinstance(value, ast.Name) and value.id == kwarg.arg:
        return carried.get(id(fn), set())
    return {"*"}


def _entry(node: ast.AST):
    """The def a call of ``node`` runs: a function itself, a class's
    ``__init__`` (None when it has none)."""
    if isinstance(node, ast.ClassDef):
        return next((m for m in node.body if isinstance(m, _FUNCS) and m.name == "__init__"), None)
    return node if isinstance(node, _FUNCS) else None


def _carried(trees, run, outside=()) -> dict[int, set[str]]:
    """Def node id -> the keyword names that running calls pass into
    its ``**`` parameter (``"*"``: any name), to a fixed point so that
    a chain of pass-throughs carries only what its first caller
    passes.  A class call feeds its ``__init__``; the defs in
    ``outside`` (node ids) are called where the pass cannot see, so
    their ``**`` carries any name."""
    by_name: dict[str, list] = {}
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef):
                for fn in node.body:
                    if isinstance(fn, _FUNCS) and fn.name == "__init__" and fn.args.kwarg:
                        by_name.setdefault(node.name, []).append(fn)
            elif isinstance(node, _FUNCS) and node.args.kwarg is not None:
                by_name.setdefault(node.name, []).append(node)
    calls = [c for node in run for c in _calls(node) if c[0] in by_name]
    carried: dict[int, set[str]] = {i: {"*"} for i in outside}
    grew = True
    while grew:
        grew = False
        for name, call, fn in calls:
            for target in by_name[name]:
                a = target.args
                named = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
                got = set()
                for kw in call.keywords:
                    if kw.arg is None:
                        got |= _spread(kw.value, fn, carried)
                    elif kw.arg not in named:
                        got.add(kw.arg)
                have = carried.setdefault(id(target), set())
                if not got <= have:
                    have |= got
                    grew = True
    return carried


def _passed(
    call: ast.Call, names: list[str], params: dict, fn=None, carried=None
) -> dict[str, ast.AST]:
    """The argument node ``call`` gives each parameter it names or
    fills (a starred node for every parameter it may fill, a ``**``
    node for every parameter it may carry: see :func:`_spread`;
    ``carried`` None means any)."""
    got: dict[str, ast.AST] = {}
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            got |= dict.fromkeys(names[i:], arg)
            break
        if i < len(names):
            got[names[i]] = arg
    for kw in call.keywords:
        if kw.arg is None:
            spread = {"*"} if carried is None else _spread(kw.value, fn, carried)
            for name in params:
                if "*" in spread or name.rsplit("(", 1)[1][:-1] in spread:
                    got.setdefault(name, kw.value)
        else:
            got[next((n for n in params if n.endswith(f"({kw.arg})")), kw.arg)] = kw.value
    return got


def _escaped(trees) -> set[str]:
    """Names used other than as a callee: a name or attribute load
    that is not the function of a call."""
    called, used = set(), set()
    for tree in trees:
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                called.add(id(n.func))
            elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                used.add((id(n), n.id))
            elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
                used.add((id(n), n.attr))
    return {name for node_id, name in used if node_id not in called}


def _values(arg: ast.AST, default: ast.AST) -> set:
    """The values one argument gives a parameter: a literal equal to
    the default is the default, any non-literal is two values."""
    try:
        value = _value(arg)
    except ValueError:
        return _LIVE
    try:
        return {_DEFAULT} if value == _value(default) else {value}
    except ValueError:
        return {value}


def _param_matches(key: str, param: str) -> bool:
    kdef, kparam = key.split("(", 1)
    pdef, pparam = param.split("(", 1)
    return kparam == pparam and _matches(kdef, pdef)


def _single_valued_in(
    modules: dict[str, ast.Module], roots: list[ast.Module], keep=(), frozen=()
) -> set[str]:
    """``def(param)`` for each defaulted parameter of a reached def with
    fewer than two values in use across the calls that run (module
    docstring).  A parameter that a call in one of the ``frozen`` trees
    passes is exempt: those call signatures do not change.  A reached
    def's ``**`` parameter that no running call feeds is reported as
    ``def(**name)``: it only ever carries nothing."""
    defs, reached, run = _walk(modules, roots, keep)
    callables = _callables(modules, reached)
    escaped = _escaped(run)
    values = {
        p: set()
        for entries in callables.values() for _, params in entries
        for p, default in params.items() if default is not None
    }
    # a def used as a value (``make = session.batch_session``) is called
    # where the pass cannot see: each of its parameters takes any value
    for name in escaped:
        for _, params in callables.get(name, ()):
            for p in params:
                if p in values:
                    values[p] |= _LIVE
    outside = {
        id(_entry(node)) for qual, nodes in defs.items() for node in nodes
        if qual.rsplit(".", 1)[-1] in escaped or any(_matches(k, qual) for k in keep)
    }
    carried = _carried([*modules.values(), *roots], run, outside)
    for node in run:
        for name, call, fn in _calls(node):
            for names, params in callables.get(name, ()):
                got = _passed(call, names, params, fn, carried)
                for p, default in params.items():
                    if default is not None:
                        values[p] |= _values(got[p], default) if p in got else {_DEFAULT}
    exempt = {
        p for tree in frozen for name, call, _ in _calls(tree)
        for names, params in callables.get(name, ()) for p in _passed(call, names, params)
    }
    unfed = {
        f"{qual}{'.__init__' if isinstance(node, ast.ClassDef) else ''}(**{fn.args.kwarg.arg})"
        for qual in reached for node in defs[qual]
        if (fn := _entry(node)) is not None and fn.args.kwarg and not carried.get(id(fn))
    }
    return {p for p, v in values.items() if len(v) < 2 and p not in exempt} | unfed


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



def _single_valued() -> set[str]:
    modules = {
        _module_name(path): _read(path)
        for path in glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)
    }
    modules[DRIVER] = _read(os.path.join(ROOT, f"{DRIVER}.py"))
    perf = [_read(p) for p in sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))]
    roots = [_read(os.path.join(ROOT, "bench.py")), *perf]
    return _single_valued_in(modules, roots, KEEP, perf)


def _param_drift(single: set[str], keep_params) -> tuple[list[str], list[str]]:
    """(single-valued parameters not kept, stale ``keep_params`` keys)."""
    unexpected = sorted(p for p in single if not any(_param_matches(k, p) for k in keep_params))
    stale = sorted(k for k in keep_params if not any(_param_matches(k, p) for p in single))
    return unexpected, stale


def test_every_defaulted_parameter_takes_two_values_or_is_kept():
    unexpected, stale = _param_drift(_single_valued(), KEEP_PARAMS)
    assert not unexpected, f"parameters with one value in use, not in KEEP_PARAMS: {unexpected}"
    assert not stale, f"KEEP_PARAMS entries that take two values or are gone: {stale}"


_SYNTHETIC_PARAMS = {
    "m": """
def omitted(x, a=1): pass
def literal(x, a=1): pass
def same_as_default(x, a=1): pass
def by_name(x, a=1): pass
def by_kwargs(x, a=1, b=2): pass
def by_star(x, a=1): pass
def by_dict(x, a=1): pass
def by_unfed(x, a=1): pass
def by_kept_relay(x, a=1): pass
def chain(x, **kw): relay(x, **kw)
def relay(x, **kw): by_kwargs(x, **kw)
def unfed(x, **kw): by_unfed(x, **kw)
def kept_relay(x, **kw): by_kept_relay(x, **kw)
def positional(x, a=1, b=2): pass
def kept_def(x, a=1): pass
def frozen_only(x, a=1): pass
def escaped(x, a=1): pass


class Table:
    def __init__(self, path, mode="r"): pass
    def scan(self, cols=None, limit=10): pass
""",
}
_SYNTHETIC_PARAMS_ROOT = """
from m import *

def run(v, opts):
    omitted(0)
    literal(0, a=5)
    same_as_default(0, a=1)
    same_as_default(0)
    by_name(0, a=v)
    by_name(0)
    chain(0, a=v)
    by_kwargs(0)
    by_dict(0, **opts)
    by_dict(0)
    unfed(0)
    by_kept_relay(0)
    by_star(*v)
    by_star(0)
    positional(0, 2)
    positional(0)
    frozen_only(0)
    make = escaped
    make(0)
    t = Table("p")
    t.scan(["a"], 10)
    t.scan()
"""


def test_a_parameter_needs_two_values_in_use():
    """Omitted and equal-to-default uses are the default, a literal is
    its own value, non-literal and ``*args`` arguments count as two
    values, positional arguments skip ``self``, a def used as a value
    takes any value, and a kept def's and a frozen call's parameters
    are exempt.  A forwarded ``**`` parameter carries only the
    keywords its callers pass, down a chain of relays (a kept def's
    carries any); another ``**`` expression carries any; a ``**``
    parameter nobody feeds is reported itself."""
    modules = {name: _parse(src) for name, src in _SYNTHETIC_PARAMS.items()}
    roots = [_parse(_SYNTHETIC_PARAMS_ROOT)]
    frozen = [_parse("frozen_only(0, a=1)")]
    single = _single_valued_in(modules, roots, {"m.kept_def", "m.kept_relay"}, frozen)
    assert single == {
        "m.omitted(a)", "m.literal(a)", "m.same_as_default(a)",
        "m.positional(b)", "m.Table.__init__(mode)", "m.Table.scan(limit)",
        "m.by_kwargs(b)", "m.by_unfed(a)", "m.unfed(**kw)",
    }
    unexpected, stale = _param_drift(single, {
        "m.omitted(a)": "",
        "m.*(mode)": "",
        "m.by_name(a)": "",
    })
    assert unexpected == [
        "m.Table.scan(limit)", "m.by_kwargs(b)", "m.by_unfed(a)", "m.literal(a)",
        "m.positional(b)", "m.same_as_default(a)", "m.unfed(**kw)",
    ]
    assert stale == ["m.by_name(a)"]
