"""Differential test: every declared query with a SQL oracle must
hash-match DuckDB at sf0.001 and sf0.01 — the local twin of the
driver's CORRECTNESS gate."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tests.oracle_compare import compare_query, duckdb_connection  # noqa: E402

_ORACLES = entrymod.oracle_sql()
_QUERIES = entrymod.queries()


@pytest.fixture(
    scope="module",
    params=["/root/testdata/sf0.001", "/root/testdata/sf0.01"],
    ids=["sf0.001", "sf0.01"],
)
def sf_swept(request):
    """Both driver-relevant scale factors: sf0.01 is the driver's
    correctness SF; sf0.001 exercises the degenerate tails the bigger
    file hides (empty groups, single-row frames, empty join sides).
    Running the full sweep at BOTH makes the rotation ledger's
    'sf0.001+sf0.01 pytest parity sweep' backstop literally true —
    before r10 the sweep ran sf0.01 only, despite this module's own
    docstring (measured cost of the second SF: ~230 s)."""
    return request.param


@pytest.fixture(scope="module")
def duck(sf_swept):
    con = duckdb_connection(sf_swept)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity(name, spark, sf_swept, duck):
    res = compare_query(name, _QUERIES[name](spark, sf_swept), duck, _ORACLES[name])
    assert res.ok, f"{name}: {res.detail}"


def test_every_query_has_callable():
    assert set(_ORACLES) <= set(_QUERIES)


def test_r12_window_heads_registered():
    """r12: the two r11-staged queries are registered and hold the
    reserved window head slots (VERDICT r11 #1) — the staged-queue
    parity test they passed all of r11 is subsumed by the main
    parametrized sweep above now that they live in _QUERIES/_ORACLES."""
    names = list(_QUERIES)
    assert names[0] == "q_split_assign_safe"
    assert names[1] == "q_dedup_substring"
    assert "q_split_assign_safe" in _ORACLES
    assert "q_dedup_substring" in _ORACLES


def test_oracle_outputs_are_driver_certifiable(sf_small):
    """No oracle may produce a column the DRIVER's pandas-based
    canonicalizer mangles or crashes on — the repo's fetchall-based
    harness masks both failure classes, so they only surface in
    CORRECTNESS_r*.json (r5: the project's first red row + two errs):

    - DuckDB HUGEINT (any uncast integer SUM) materializes as float64
      in pandas -> "0.0" vs Spark's "0" -> hash mismatch
      (q_spike_detect, r5).  CAST(... AS BIGINT) in the oracle.
    - LIST columns crash pandas sort_values (unhashable type
      'list') -> the row errs forever (q_collect_set /
      q_embed_quantize, r5).  Join to a canonical CSV string on
      both sides instead."""
    con = duckdb_connection(sf_small)
    bad = []
    for name, sql in _ORACLES.items():
        rel = con.sql(sql)
        for c, t in zip(rel.columns, rel.types):
            ts = str(t)
            if ts in ("HUGEINT", "UHUGEINT") or ts.endswith("[]"):
                bad.append((name, c, ts))
    con.close()
    assert not bad, f"driver-uncertifiable oracle columns: {bad}"


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only_queries_run(name, spark, sf_medium):
    """Queries without a SQL oracle still must execute deterministically:
    run twice, same sorted rows."""
    a = sorted(map(str, _QUERIES[name](spark, sf_medium).collect()))
    b = sorted(map(str, _QUERIES[name](spark, sf_medium).collect()))
    assert a == b
    assert len(a) >= 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None


def test_msum_equals_dsum_on_money(spark, sf_small):
    """Scaled-long money sum must be bit-identical to the decimal
    accumulation path on 2-decimal fixed-point columns."""
    from real_timetransactionaldatalakehouse_spark import functions as LF
    from real_timetransactionaldatalakehouse_spark.sources import load_table

    li = load_table(spark, sf_small, "lineitem")
    m, d = li.agg(
        LF.msum("l_extendedprice").alias("m"), LF.dsum("l_extendedprice").alias("d")
    ).collect()[0]
    assert m == d


def test_tune_for_input_sizing(spark):
    """Partition count follows the 128 MB/partition rule with the
    4-partition floor; AQE toggles at the documented threshold."""
    from real_timetransactionaldatalakehouse_spark import session as SS

    SS.tune_for_input(spark, 20_000_000, cpus=32)  # 20 MB -> floor
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    # map splits floor at the reference's 16 MB small-bites setting
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == str(16 * 1024 * 1024)
    SS.tune_for_input(spark, 100 * 32 * 1024 * 1024, cpus=32)  # 100 partitions' worth
    assert spark.conf.get("spark.sql.shuffle.partitions") == "100"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    SS.tune_for_input(spark, 10**15, cpus=32)  # 1 PB -> capped at 4x cpus
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(4 * 32)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # ...and map splits back at the 128 MB at-scale standard
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == str(128 * 1024 * 1024)
    # restore the conftest profile
    SS.tune_for_input(spark, 0, cpus=32)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "32")


def test_sketch_error_bounds(spark, sf_medium):
    """q_agg_sketches can never hash-match an oracle (sketch state is
    engine-specific by construction) — pin its accuracy instead: the
    query itself now emits one row per (group, metric) inside its error
    bound (HLL++ within 5% = 5x the rated 1% rsd; t-digest median
    within 1% of the exact percentile), so the full grid being present
    IS the accuracy assertion.  This is the declared rows-only gap's
    quantitative backstop."""
    from real_timetransactionaldatalakehouse_spark.sources import load_table

    li = load_table(spark, sf_medium, "lineitem")
    from pyspark.sql import functions as F

    # r10 shape: one row per (flag, metric) that PASSES its bound —
    # a full grid means every sketch is inside tolerance, and the
    # row-level rel_err pins the magnitude
    got = _QUERIES["q_agg_sketches"](spark, sf_medium).collect()
    flags = {
        r.l_returnflag
        for r in li.select("l_returnflag").distinct().collect()
    }
    assert {(r.l_returnflag, r.metric) for r in got} == {
        (f, m) for f in flags
        for m in ("count_distinct_hll", "median_tdigest")
    }
    for r in got:
        bound = 0.05 if r.metric == "count_distinct_hll" else 0.01
        assert 0.0 <= r.rel_err <= bound, (r.l_returnflag, r.metric, r.rel_err)


def test_rows_only_queries_emit_live_multirow_summaries(spark, sf_small):
    """r9 VERDICT #4: the five permanently-no_oracle queries return
    deterministic MULTI-row invariant summaries so a silent operator
    regression moves the driver's spark_rows even without an oracle.
    Pins each summary's shape and internal invariants at sf0.001."""
    from real_timetransactionaldatalakehouse_spark.sources import load_table

    # table stats: one row per file + the PASSING summary rows (r12
    # row-dropping form: files_agree present iff stats == scan)
    rows = _QUERIES["q_table_stats"](spark, sf_small).collect()
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r.kind, []).append(r.metric)
    assert len(by_kind["file_rows"]) == by_kind["files_agree"][0] == 1
    assert by_kind["total_rows"] == [sum(by_kind["file_rows"])]

    # sorted write: one row per written file (row-dropping: an
    # unsorted file would be absent), row counts covering all events
    # with unique ids
    rows = _QUERIES["q_sorted_write"](spark, sf_small).collect()
    assert len(rows) == 4
    assert all(r.n_rows == r.n_ids for r in rows)
    assert sum(r.n_rows for r in rows) == load_table(
        spark, sf_small, "events"
    ).count()

    # snapshot lifecycle: exactly the surviving versions, one current
    rows = _QUERIES["q_snapshot_lifecycle"](spark, sf_small).collect()
    assert [r.version for r in rows] == [2, 3]
    assert [r.is_current for r in rows] == [False, True]
    assert all(
        r.v1_expired and r.n_expired == 1 and r.n_orphans == 1 for r in rows
    )
    assert all(r.v1_readable_rows == r.n_rows_v1 for r in rows)

    # bucket-pruned lookup: three probes survive the row-dropping
    # filter (each proved rows_agree AND pruned to be emitted at all)
    rows = _QUERIES["q_bucket_pruned_lookup"](spark, sf_small).collect()
    assert len(rows) == 3
    assert all(r.lookup_rows == r.expected_rows for r in rows)
    assert all(r.files_scanned < r.files_total for r in rows)


def test_rows_only_summaries_drop_rows_on_planted_violations(spark,
                                                             sf_small,
                                                             tmp_path):
    """r12 (VERDICT r11 #6): the three boolean no-oracle summaries are
    now row-DROPPING — a planted invariant violation must change the
    emitted ROW COUNT (what the driver's rows-only check sees), not
    just flip a value."""
    from pyspark.sql import functions as F

    from real_timetransactionaldatalakehouse_spark.sources import load_table

    # q_table_stats: a stats/scan file-count disagreement drops the
    # files_agree row
    ok = entrymod._summary_passing(
        spark, [("files_agree", 4, True), ("total_rows", 100, True)])
    bad = entrymod._summary_passing(
        spark, [("files_agree", 4, False), ("total_rows", 100, True)])
    assert ok.count() == 2 and bad.count() == 1

    # q_sorted_write: a DESCENDING (violating) write drops every file
    # from the summary; the compliant write keeps all 4
    ev = load_table(spark, sf_small, "events")

    def back_of(writer_sorted):
        out = str(tmp_path / ("asc" if writer_sorted else "desc"))
        part = ev.repartition(4, "user_id")
        part = (part.sortWithinPartitions("ts") if writer_sorted
                else part.sortWithinPartitions(F.desc("ts")))
        part.write.mode("overwrite").parquet(out)
        return spark.read.parquet(out).select(
            "user_id", "event_id", "ts",
            F.input_file_name().alias("__f"),
            F.monotonically_increasing_id().alias("__i"),
        )

    assert entrymod._sorted_write_summary(back_of(True)).count() == 4
    assert entrymod._sorted_write_summary(back_of(False)).count() == 0

    # q_bucket_pruned_lookup: a probe failing either invariant drops
    probes = [
        (0, 5, 5, True, 2, 16, True),    # passes
        (1, 5, 4, False, 2, 16, True),   # rows disagree -> dropped
        (2, 5, 5, True, 16, 16, False),  # unpruned -> dropped
    ]
    kept = entrymod._bucket_probe_passing(spark, probes).collect()
    assert [r.key_ord for r in kept] == [0]


def test_table_building_queries_remove_their_temp_dirs(spark, sf_small):
    """A query that builds a table in a temp dir keeps it only until
    the next declared query starts: repeated calls do not pile table
    dirs up in the temp dir."""
    import glob
    import tempfile

    def mor_dirs():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "mor_tbl_*")))

    made = set()
    for _ in range(2):
        before = mor_dirs()
        assert _QUERIES["q_mor_upsert"](spark, sf_small).count() > 0
        made |= mor_dirs() - before
    assert made
    _QUERIES["q_agg_global"](spark, sf_small).collect()
    assert not made & mor_dirs()
