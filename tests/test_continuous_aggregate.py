"""Continuous aggregate: a streaming windowed aggregation maintained
into an UpsertTable via foreachBatch (update mode), so a reader always
sees one current row per window — the materialized-view pattern
(TimescaleDB continuous aggregates / Delta MERGE maintenance) composed
from this engine's own parts: C20 event-time windows + A12 idempotent
foreachBatch + the CDC upsert sink.

Each micro-batch emits updated (window, key) aggregate rows; the upsert
keeps the max-batch-id version per (window, key), so replays and
multi-batch refinements converge to the batch answer.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_streaming_base_spark.queries._tables import t
from pyspark_streaming_base_spark.sinks.upsert import UpsertTable

from tests.conftest import SF_SMALL


def test_streaming_window_agg_maintained_by_upsert(spark, tmp_path):
    ev = t(spark, SF_SMALL, "events").select("ts", "event_type", "value")
    staged = str(tmp_path / "stage")
    ev.repartition(4).write.parquet(staged)  # 4 files → 4 micro-batches

    tbl = UpsertTable(
        str(tmp_path / "cagg"),
        key_cols=["win_start", "event_type"],
        seq_col="_batch",
        n_buckets=4,
    )

    def upsert_batch(df, batch_id):
        tbl.apply(df.withColumn("_batch", F.lit(batch_id)), batch_id)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    # no watermark: update mode keeps all window state, so the staged
    # files' arbitrary event-time order can never drop a row and the
    # final table must equal the batch aggregate exactly
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.round(F.col("value") * 1e6).cast("bigint")).alias("sv"),
        )
        .select(
            F.col("w.start").alias("win_start"), "event_type", "n_events", "sv"
        )
    )
    q = (
        agg.writeStream.foreachBatch(upsert_batch)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sv"])
        for r in tbl.read(spark).collect()
    }
    want = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sv"])
        for r in (
            ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.round(F.col("value") * 1e6).cast("bigint")).alias("sv"),
            )
            .select(
                F.col("w.start").alias("win_start"), "event_type", "n_events", "sv"
            )
        ).collect()
    }
    assert got == want
    # the stateful stage runs once per trigger, so its progress is not
    # double-counted by the sink's two actions (bucket-id pass and merge
    # write): no watermark keeps every group in state, and the last
    # batch updated exactly the groups whose stored row it wrote
    last = q.lastProgress
    ops = last["stateOperators"][0]
    assert ops["numRowsTotal"] == len(want)
    assert ops["numRowsUpdated"] == (
        tbl.read(spark).filter(F.col("_batch") == last["batchId"]).count()
    )
