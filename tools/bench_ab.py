"""Same-session interleaved A/B bench: previous round's tree vs the
current tree, alternating passes inside ONE process / ONE SparkSession.

Why this exists (VERDICT r10 #2): the round-over-round r3common ratio
became host-drift-dominated — r10 showed 15 queries "regressing"
1.3-2.0x with zero code changes while the per-query floor moved
0.028 -> 0.040 s between runs, and the builder-committed and
driver-final runs of the SAME tree disagreed on the floor (0.0395 vs
0.0267).  Arguing that in SCALING prose is not an instrument.  This is
the instrument: both trees (and the DuckDB oracle) are timed in
alternating passes within one JVM/process lifetime, so ambient drift
lands symmetrically on every side and cancels structurally:

  pass order:  prev, curr, prev, curr, prev, curr
  per query:   min across that tree's passes (k noop runs per pass)
  per pass:    the harness floor (1-row noop) is measured too, so the
               file carries BOTH trees' floors from the same window —
               if they disagree, the session itself was unstable and
               the file says so.

The previous tree is materialized with ``git archive`` of the last
driver round commit (subject ``round N: ...``) into ``.bench_ab/``
(gitignored) and imported under the same module names by swapping
``sys.path[0]`` and purging the package from ``sys.modules`` between
passes — both trees then share the warmed JVM, codegen cache, and OS
page cache, which is exactly the point.

Used by bench.py (its JSON line carries the paired summary) and
runnable standalone:

    python tools/bench_ab.py --sf /root/testdata/sf0.1 --passes 3
"""

from __future__ import annotations

import importlib
import json
import os
import shutil
import subprocess
import sys
import time

PKG = "real_timetransactionaldatalakehouse_spark"


def _purge_modules() -> None:
    for m in [
        m
        for m in sys.modules
        if m == "__spark_entry__" or m == PKG or m.startswith(PKG + ".")
    ]:
        del sys.modules[m]


def _load_entry(tree_root: str):
    """Import __spark_entry__ (and its package) from *tree_root*.

    On import failure the inserted path and any half-imported modules
    are removed BEFORE re-raising (ADVICE r11): the exception would
    otherwise escape before the caller's try/finally is entered,
    leaving *tree_root* at sys.path[0] for the rest of the process —
    and since bench.py swallows the exception and continues, every
    later import of the package would silently resolve to the wrong
    tree."""
    _purge_modules()
    sys.path.insert(0, tree_root)
    try:
        return importlib.import_module("__spark_entry__")
    except BaseException:
        _unload(tree_root)
        raise


def _unload(tree_root: str) -> None:
    try:
        sys.path.remove(tree_root)
    except ValueError:
        pass
    _purge_modules()


def prev_round_tree(repo_root: str) -> tuple[str, str, str]:
    """Materialize the last driver round commit under .bench_ab/prev.

    Returns (tree_root, sha, subject).  Round boundaries are the
    driver's own commits (subject ``round N: ...``), so "previous
    tree" is exactly the code the previous round's bench measured.
    Two guards (review findings): the SUBJECT must match (``git log
    --grep`` also matches body lines, which would mistake any commit
    quoting a round line for a boundary), and the match must not be
    HEAD itself — when bench is re-run right after a round commit
    lands, comparing HEAD to HEAD would read paired ~1.0 and report
    "no plan regression" without ever measuring the previous round.
    """
    import re

    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=repo_root,
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    log = subprocess.run(
        ["git", "log", "--format=%H%x00%s", "-n", "2000"],
        cwd=repo_root, capture_output=True, text=True, check=True,
    ).stdout
    sha = subject = None
    for line in log.splitlines():
        h, _, s = line.partition("\x00")
        if re.match(r"^round [0-9]+:", s) and h != head:
            sha, subject = h, s
            break
    if sha is None:
        raise RuntimeError("no prior 'round N:' commit found on HEAD history")
    dest = os.path.join(repo_root, ".bench_ab", "prev")
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    ar = subprocess.run(
        ["git", "archive", sha], cwd=repo_root, capture_output=True, check=True,
    )
    subprocess.run(["tar", "-x", "-C", dest], input=ar.stdout, check=True)
    return dest, sha, subject


def _round_leader(prev_subject: str) -> str:
    """Which tree leads pass 0, derived from the previous round
    commit's number (this round = prev + 1): even rounds prev-first,
    odd rounds curr-first — the per-ROUND half of the cold-phase
    alternation (VERDICT r11 #7)."""
    import re

    m = re.match(r"^round ([0-9]+):", prev_subject)
    this_round = int(m.group(1)) + 1 if m else 0
    return "prev" if this_round % 2 == 0 else "curr"


def interleaved_ab(
    spark,
    sf_dir: str,
    repo_root: str,
    query_names: list[str],
    oracle_skip: set[str] | dict,
    passes: int = 3,
    runs_per_query: int = 2,
) -> dict:
    """Run *query_names* through prev/curr alternating passes.

    The DuckDB oracle (current tree's SQL — oracles are certified
    equivalences, not per-tree code) is timed once per query per PASS
    — in the curr-labeled iteration only (r12, ADVICE r11: it
    previously ran in both iterations, 2x per pass; harmless under
    min() but the recorded methodology didn't match the code) — so
    the paired vs-oracle ratio shares the exact host window with both
    engines' numerators.

    Which tree leads pass 0 alternates by ROUND parity (derived from
    the previous round commit's number: even rounds prev-first, odd
    rounds curr-first), so the session cold phase lands on each tree
    in alternate rounds; within a run, passes already alternate.
    """
    prev_root, prev_sha, prev_subject = prev_round_tree(repo_root)
    curr_root = repo_root
    leader = _round_leader(prev_subject)

    # oracle setup (current tree's SQL, one connection for the session)
    con = None
    osql: dict[str, str] = {}
    try:
        import duckdb

        ent = _load_entry(curr_root)
        osql = {
            n: s for n, s in ent.oracle_sql().items()
            if n in query_names and n not in oracle_skip
        }
        tables = importlib.import_module(PKG).TPCH_TABLES
        con = duckdb.connect()
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
    except Exception:
        if con is not None:  # close a half-set-up connection, don't leak it
            con.close()
        con = None
    finally:
        _unload(curr_root)

    def run_df(df) -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        spark.sparkContext._jvm.System.gc()
        return dt

    mins: dict[str, dict[str, float]] = {"prev": {}, "curr": {}}
    oracle_min: dict[str, float] = {}
    floors: dict[str, list[float]] = {"prev": [], "curr": []}
    missing_prev: list[str] = []

    # try/finally over the WHOLE pass loop (ADVICE r11): an exception
    # mid-pass previously leaked the DuckDB connection and the
    # extracted prev tree — gitignored, but stale trees accumulated
    # across failed runs because bench.py's broad except hides the
    # failure.
    try:
        for p in range(passes):
            # within a run, alternate which tree leads each PASS; which
            # tree leads pass 0 alternates by round (see docstring) —
            # with a fixed order the leader pays the session's cold
            # phase every round (measured: prev-first gave prev floors
            # 0.179/0.095/0.037 DESCENDING while curr sat warm at
            # ~0.03 — a systematic bias toward whichever runs second).
            pair = [("prev", prev_root), ("curr", curr_root)]
            if leader == "curr":
                pair.reverse()
            if p % 2:
                pair.reverse()
            for label, root in pair:
                ent = _load_entry(root)
                try:
                    qs = ent.queries()
                    for name in query_names:
                        if name not in qs:
                            if label == "prev" and name not in missing_prev:
                                missing_prev.append(name)
                            continue
                        df = qs[name](spark, sf_dir)
                        best = min(run_df(df) for _ in range(runs_per_query))
                        cur = mins[label].get(name)
                        mins[label][name] = round(
                            best if cur is None else min(cur, best), 4
                        )
                        # oracle: once per pass, on the curr iteration
                        if label == "curr" and con is not None \
                                and name in osql:
                            try:
                                t0 = time.perf_counter()
                                con.execute(osql[name]).fetchall()
                                dt = time.perf_counter() - t0
                                oracle_min[name] = round(
                                    min(oracle_min.get(name, dt), dt), 4
                                )
                            except Exception:
                                osql.pop(name, None)
                    # harness floor, measured inside this pass's window
                    floor_df = spark.range(1)
                    floors[label].append(
                        round(min(run_df(floor_df) for _ in range(3)), 4)
                    )
                finally:
                    _unload(root)
    finally:
        if con is not None:
            con.close()
        shutil.rmtree(
            os.path.join(repo_root, ".bench_ab"), ignore_errors=True
        )

    shared = [n for n in query_names if n in mins["prev"] and n in mins["curr"]]
    per_query = {
        n: round(mins["curr"][n] / max(mins["prev"][n], 1e-9), 2)
        for n in shared
    }
    ocov = [n for n in shared if n in oracle_min]
    sum_prev = round(sum(mins["prev"][n] for n in shared), 4)
    sum_curr = round(sum(mins["curr"][n] for n in shared), 4)
    out = {
        "prev_sha": prev_sha,
        "prev_subject": prev_subject,
        "leader": leader,  # which tree led pass 0 (alternates by round)
        "passes_per_tree": passes,
        "runs_per_query_per_pass": runs_per_query,
        "n_queries": len(shared),
        "missing_in_prev": missing_prev,
        # both floors, same session — the drift detector itself
        "floor_prev": min(floors["prev"]) if floors["prev"] else None,
        "floor_curr": min(floors["curr"]) if floors["curr"] else None,
        "floors_by_pass": floors,
        "prev_min": mins["prev"],
        "curr_min": mins["curr"],
        "oracle_min": oracle_min,
        "sum_prev": sum_prev,
        "sum_curr": sum_curr,
        # the round-over-round PLAN signal: host drift cancelled
        "paired_curr_vs_prev": round(sum_curr / max(sum_prev, 1e-9), 3),
        "per_query_curr_vs_prev": per_query,
        # the gate number with every term timed in one shared window
        "paired_ratio_vs_oracle": round(
            sum(mins["curr"][n] for n in ocov)
            / max(sum(oracle_min[n] for n in ocov), 1e-9), 3,
        ) if ocov else None,
        "paired_ratio_vs_oracle_prev": round(
            sum(mins["prev"][n] for n in ocov)
            / max(sum(oracle_min[n] for n in ocov), 1e-9), 3,
        ) if ocov else None,
        "oracle_covered": len(ocov),
    }
    return out


def main() -> None:
    import argparse

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo_root)

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    ent = _load_entry(repo_root)
    session_mod = importlib.import_module(PKG + ".session")
    spark = session_mod.batch_session("bench-ab")
    input_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(args.sf) for f in fs
    )
    session_mod.tune_for_input(spark, input_bytes)
    # warm the JVM + page cache the same way bench.py does (families
    # once at sf0.001, then fault the measured SF's bytes in)
    qs = ent.queries()
    for wq in ("q_agg_global", "q_join_inner_equi", "q_dedup_latest"):
        qs[wq](spark, "/root/testdata/sf0.001").collect()
    _unload(repo_root)

    import bench as _bench  # repo-root bench.py: the canonical set

    names = list(_bench.R3_COMMON)
    skip = set(_bench.ORACLE_SKIP)
    res = interleaved_ab(
        spark, args.sf, repo_root, names, skip,
        passes=args.passes, runs_per_query=args.runs,
    )
    line = json.dumps(res, separators=(",", ":"))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(res, fh, indent=1, sort_keys=True)
    print(line)


if __name__ == "__main__":
    main()
