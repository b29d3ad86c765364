"""Data-quality expectation gates: split accounting, annotation
contents, stats consistency, null-hostility, streaming use."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_timetransactionaldatalakehouse_spark import quality as Q  # noqa: E402
from real_timetransactionaldatalakehouse_spark.sources import load_table  # noqa: E402


def _rules():
    return {
        "value_nonneg": F.col("value") >= 0,
        "user_known": F.col("user_id").isNotNull(),
        "type_valid": F.col("event_type").isin("view", "click", "purchase", "signup", "error"),
    }


@pytest.fixture()
def dirty(spark, sf_small):
    ev = load_table(spark, sf_small, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    bad = spark.createDataFrame(
        [
            (9000001, None, "view", 1.0),          # user_known fails
            (9000002, 5, "bogus", -2.0),           # type_valid + value_nonneg fail
            (9000003, 6, "click", None),           # value rule NULL -> fails
        ],
        "event_id long, user_id long, event_type string, value double",
    )
    return ev.unionByName(bad), ev.count()


def test_quality_gate_split_and_annotation(dirty):
    df, n_clean_src = dirty
    good, bad = Q.quality_gate(df, _rules())
    assert good.count() + bad.count() == df.count()
    got = {r.event_id: sorted(r._violations) for r in bad.collect()}
    assert got[9000001] == ["user_known"]
    assert got[9000002] == ["type_valid", "value_nonneg"]
    assert got[9000003] == ["value_nonneg"]  # NULL rule counts as failed
    # source rows are all clean (corpus is generated valid)
    assert good.count() == n_clean_src
    assert Q.VIOLATIONS_COL not in good.columns


def test_quality_stats_consistent(dirty):
    df, _ = dirty
    s = Q.quality_stats(df, _rules()).first()
    assert s.n_rows == df.count()
    assert s.n_clean == s.n_rows - 3
    assert (s.fail_user_known, s.fail_type_valid, s.fail_value_nonneg) == (1, 1, 2)


def test_quality_gate_is_map_only(spark, sf_small):
    from real_timetransactionaldatalakehouse_spark import plans as P

    ev = load_table(spark, sf_small, "events").select("event_id", "value")
    good, _bad = Q.quality_gate(ev, {"v": F.col("value") >= 0})
    plan = P.formatted_plan(good)
    assert "Exchange" not in plan, plan


def test_quality_in_streaming_batch(spark, sf_small, tmp_path):
    """The gate runs unchanged inside foreachBatch: quarantine and
    clean sinks both land, counts add up."""
    from real_timetransactionaldatalakehouse_spark.sources import file_stream

    src = str(tmp_path / "src")
    outs = {"good": str(tmp_path / "good"), "bad": str(tmp_path / "bad")}
    df = load_table(spark, sf_small, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    df.coalesce(1).write.parquet(src)
    stream = file_stream(spark, src, df.schema)
    # threshold rule fails a real subset, so both sinks receive rows
    rules = {"value_low": F.col("value") < 5.0}

    def write_batch(batch, _epoch):
        good, bad = Q.quality_gate(batch, rules)
        good.write.mode("append").parquet(outs["good"])
        bad.write.mode("append").parquet(outs["bad"])

    (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start().awaitTermination(120)
    )
    n_good = spark.read.parquet(outs["good"]).count()
    n_bad = spark.read.parquet(outs["bad"]).count()
    assert n_good + n_bad == df.count()
    assert n_good > 0 and n_bad > 0


def test_build_silver_expectation_gate(spark, sf_small):
    """build_silver with expectations drops failing bronze rows before
    sessionization; without, it keeps everything."""
    from real_timetransactionaldatalakehouse_spark.medallion import build_silver

    ev = load_table(spark, sf_small, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    plain = build_silver(ev)
    gated = build_silver(ev, expectations={"value_low": F.col("value") < 5.0})
    n_pass = ev.filter(F.col("value") < 5.0).count()
    assert plain.count() == ev.count()
    assert gated.count() == n_pass < ev.count()


def test_observed_gate_streaming_progress_metrics(spark, tmp_path):
    """The SAME observe() call must surface per-batch violation
    counters in the streaming progress events — quality monitoring
    with zero extra passes in both execution modes."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    from real_timetransactionaldatalakehouse_spark.quality import annotate

    src = str(tmp_path / "in")
    import os as _os
    _os.makedirs(src)
    schema = StructType([
        StructField("id", LongType()), StructField("v", DoubleType()),
    ])
    spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, 2.0), (4, None)], schema
    ).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    rules = {"v_positive": F.col("v") > 0}
    a = annotate(stream, rules)
    observed = a.observe(
        "q", F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.size("_violations") == 0, 1)).alias("n_clean"),
    )
    q = (
        observed.writeStream.format("memory").queryName("obs_gate_t")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    # find the progress event carrying the observed metrics
    got = None
    for p in q.recentProgress:
        om = p.get("observedMetrics") if isinstance(p, dict) else p["observedMetrics"]
        if om and "q" in om:
            m = om["q"]
            got = (m["n_rows"], m["n_clean"])
    assert got == (4, 2), got
