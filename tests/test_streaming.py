"""Stream/batch equivalence tests.

Each streaming operator is run over the sf0.001 events parquet with
``trigger(availableNow=True)`` into a memory sink, then compared against
its batch twin (the oracle-checked batch query where one exists). This
is the strongest check available locally: identical answers from the
incremental and the batch plan.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from cqdg_etl_spark.queries import REGISTRY
from cqdg_etl_spark.queries.registry import load
from cqdg_etl_spark.streaming import (
    read_event_stream,
    running_user_totals,
    session_windows,
    session_windows_batch,
    tumbling_hourly,
)


def run_to_memory(stream_df, name: str, output_mode: str) -> None:
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in row) for row in df[cols].itertuples(index=False))


def test_tumbling_hourly_stream_matches_batch(spark, sf_dir):
    stream = tumbling_hourly(read_event_stream(spark, sf_dir))
    run_to_memory(stream, "t_tumbling", "complete")
    got = spark.sql("SELECT * FROM t_tumbling").toPandas()
    expected = REGISTRY["ev_tumbling_hourly"].fn(spark, sf_dir).toPandas()
    assert canon(got) == canon(expected)


def test_session_window_stream_matches_batch(spark, sf_dir):
    stream = session_windows(read_event_stream(spark, sf_dir))
    run_to_memory(stream, "t_sessions", "complete")
    got = spark.sql("SELECT * FROM t_sessions").toPandas()
    expected = session_windows_batch(load(spark, sf_dir, "events")).toPandas()
    assert len(got) == len(expected)
    assert canon(got) == canon(expected)


def test_session_window_agrees_with_lag_cumsum_sessionize(spark, sf_dir):
    """The built-in session_window must find the same number of sessions
    as the batch lag+cumsum sessionization (oracle-checked ev_sessionize)."""
    batch = session_windows_batch(load(spark, sf_dir, "events")).toPandas()
    lagged = REGISTRY["ev_sessionize"].fn(spark, sf_dir).toPandas()
    assert len(batch) == len(lagged)


def test_running_user_totals_final_state_matches_batch(spark, sf_dir):
    """applyInPandasWithState: after draining the stream, the last update
    per user equals the batch per-user aggregate."""
    stream = running_user_totals(read_event_stream(spark, sf_dir))
    run_to_memory(stream, "t_totals", "update")
    got = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY n_events DESC) AS rn
          FROM t_totals) WHERE rn = 1
        """
    ).toPandas()
    expected = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg({"*": "count", "value": "sum"})
        .toPandas()
    )
    exp = {
        r["user_id"]: (r["count(1)"], round(float(r["sum(value)"]), 2))
        for _, r in expected.iterrows()
    }
    assert len(got) == len(exp)
    for _, r in got.iterrows():
        n, total = exp[r["user_id"]]
        assert r["n_events"] == n
        assert r["total_value"] == pytest.approx(total, abs=0.05)


def test_running_totals_state_carries_across_micro_batches(spark, sf_dir, tmp_path):
    """The real stateful guarantee: split the source into 4 files,
    trigger one file per micro-batch, and the final per-user state must
    STILL equal the batch aggregate — state carried across 4 batches,
    with intermediate emissions strictly increasing per user."""
    events = load(spark, sf_dir, "events")
    multi = str(tmp_path / "events_multi")
    events.repartition(4).write.parquet(multi)

    from cqdg_etl_spark.streaming.stateful import running_user_totals

    stream = running_user_totals(_multi_stream(spark, multi, events.schema))
    run_to_memory(stream, "t_totals_multi", "update")
    rows = spark.sql("SELECT * FROM t_totals_multi").collect()
    # >1 emission for at least one user proves multiple micro-batches ran
    from collections import Counter

    per_user = Counter(r.user_id for r in rows)
    assert max(per_user.values()) > 1, "expected multiple micro-batches"
    final = {}
    for r in rows:
        final[r.user_id] = max(final.get(r.user_id, 0), r.n_events)
    expected = {
        r.user_id: r.n for r in events.groupBy("user_id").agg(
            F.count("*").alias("n")).collect()
    }
    assert final == expected


def _multi_stream(spark, path, schema):
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    df = reader.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def test_watermark_present_in_plan(spark, sf_dir):
    stream = tumbling_hourly(read_event_stream(spark, sf_dir))
    assert stream.isStreaming
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan


def test_stream_dedup_exact_matches_batch_distinct(spark, sf_dir):
    """Global streaming dedup: key set equals batch DISTINCT, and
    exactly one surviving row per key (the dedup contract)."""
    from cqdg_etl_spark.queries.registry import load
    from cqdg_etl_spark.streaming import first_occurrence_stream, read_event_stream

    deduped = first_occurrence_stream(
        read_event_stream(spark, sf_dir), ["user_id", "event_type"]
    )
    run_to_memory(deduped, "dedup_exact_sink", "append")
    got = spark.table("dedup_exact_sink").toPandas()
    assert got.groupby(["user_id", "event_type"]).size().max() == 1
    batch_keys = {
        (r.user_id, r.event_type)
        for r in load(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert set(zip(got.user_id, got.event_type)) == batch_keys


def test_stream_dedup_within_watermark_bounded_superset(spark, sf_dir):
    """Watermark-bounded dedup re-emits keys across horizons: it must
    cover every key at least once, still dedupe within a micro-batch
    horizon, and never exceed the raw event count."""
    from cqdg_etl_spark.queries.registry import load
    from cqdg_etl_spark.streaming import (
        first_occurrence_within_watermark,
        read_event_stream,
    )

    deduped = first_occurrence_within_watermark(
        read_event_stream(spark, sf_dir), ["user_id", "event_type"], "2 hours"
    )
    run_to_memory(deduped, "dedup_wm_sink", "append")
    got = spark.table("dedup_wm_sink").toPandas()
    ev = load(spark, sf_dir, "events")
    n_keys = ev.select("user_id", "event_type").distinct().count()
    assert len(set(zip(got.user_id, got.event_type))) == n_keys
    assert n_keys <= len(got) <= ev.count()


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    """Stream-static broadcast join drains to the batch join answer."""
    df = REGISTRY["ev_stream_enrich_static"].fn(spark, sf_dir)
    from pyspark.sql import functions as F

    cust = load(spark, sf_dir, "customer")
    ev = load(spark, sf_dir, "events")
    batch = (
        ev.join(cust, ev["user_id"] == cust["c_custkey"])
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b
