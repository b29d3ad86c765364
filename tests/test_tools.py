"""Unit tests for repo tooling that needs no Spark session."""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_prev_round_tree_resolves_prior_round_not_head():
    """r11 review fix: the A/B instrument's "previous tree" must be a
    real prior round boundary — subject-matched (not a body-line grep
    hit) and never HEAD itself (a bench re-run right after a round
    commit lands would otherwise compare the tree to itself and report
    paired ~1.0 as 'no plan regression')."""
    from tools.bench_ab import prev_round_tree

    try:
        dest, sha, subject = prev_round_tree(REPO)
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO,
            capture_output=True, text=True, check=True,
        ).stdout.strip()
        assert sha != head
        assert re.match(r"^round \d+:", subject), subject
        assert os.path.exists(os.path.join(dest, "__spark_entry__.py"))
        assert os.path.exists(os.path.join(dest, "bench.py"))
    finally:
        shutil.rmtree(os.path.join(REPO, ".bench_ab"), ignore_errors=True)


def test_load_entry_cleans_sys_path_on_import_failure(tmp_path):
    """r12 (ADVICE r11): a tree that fails to import must not stay at
    sys.path[0] — bench.py swallows the exception and continues, so a
    leaked path would make every later package import silently
    resolve to the broken tree."""
    import pytest

    from tools.bench_ab import _load_entry

    bad = tmp_path / "badtree"
    bad.mkdir()
    (bad / "__spark_entry__.py").write_text("raise RuntimeError('boom')\n")
    depth_before = len(sys.path)
    with pytest.raises(RuntimeError, match="boom"):
        _load_entry(str(bad))
    assert str(bad) not in sys.path
    assert len(sys.path) == depth_before
    # and the half-imported module must not linger
    assert "__spark_entry__" not in sys.modules


def test_ab_leader_alternates_by_round_parity():
    """r12 (VERDICT r11 #7): which tree leads pass 0 is derived from
    the round number — even rounds prev-first, odd rounds curr-first —
    so the session cold phase lands on each tree in alternate rounds.
    Pins the arithmetic without running a session."""
    from tools.bench_ab import _round_leader

    assert _round_leader("round 11: verdict/etc") == "prev"   # r12
    assert _round_leader("round 12: verdict/etc") == "curr"   # r13
    assert _round_leader("not a round subject") == "prev"     # fallback


def test_r12_window_matches_freshness_ledger():
    """The r12 _CHECK_FIRST must be DERIVABLE from the committed
    CORRECTNESS artifacts, not just asserted in a comment: head = the
    2 r11-staged registrations, then the r8 cohort at the 4-round
    bound, then the 43 oldest (alphabetical) of the r9 cohort — where
    a query's cohort is the LAST round whose driver window certified
    it.  Executable ledger arithmetic (sessionless)."""
    import json

    import __spark_entry__ as entry

    last = {}
    for r in range(1, 12):
        path = os.path.join(REPO, f"CORRECTNESS_r{r:02d}.json")
        for name in json.load(open(path)):
            last[name] = r
    r8 = sorted(n for n, v in last.items() if v == 8)
    r9 = sorted(n for n, v in last.items() if v == 9)
    expected = (["q_split_assign_safe", "q_dedup_substring"]
                + r8 + r9[:43])
    assert entry._CHECK_FIRST == expected
    assert len(entry._CHECK_FIRST) == 50
    # and the registry order the driver sees leads with exactly them
    assert list(entry.queries())[:50] == expected


def test_operators_md_matches_generator():
    """OPERATORS.md is generated from the declared queries' docstrings;
    a docstring edit without a regeneration fails here
    (``python tools/gen_operators_md.py`` rewrites it)."""
    from tools.gen_operators_md import render

    with open(os.path.join(REPO, "OPERATORS.md")) as fh:
        assert fh.read() == render()
