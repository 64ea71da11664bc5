"""UpsertTable (CDC apply-changes) semantics: keyed merge, deletes,
replay idempotence, bucket-scoped rewrites, streaming foreachBatch e2e."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.sinks.upsert import UpsertTable


def snap(tbl, spark):
    return {
        (r["k"]): (r["seq"], r["v"])
        for r in tbl.read(spark).select("k", "seq", "v").collect()
    }


def test_upsert_latest_per_key(spark, tmp_path):
    tbl = UpsertTable(str(tmp_path / "t"), key_cols=["k"], seq_col="seq")
    b0 = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], ["k", "seq", "v"])
    b1 = spark.createDataFrame([(1, 2, "a2"), (3, 1, "c")], ["k", "seq", "v"])
    tbl.apply(b0, 0)
    tbl.apply(b1, 1)
    assert snap(tbl, spark) == {1: (2, "a2"), 2: (1, "b"), 3: (1, "c")}


def test_out_of_order_rows_lose_to_newer(spark, tmp_path):
    tbl = UpsertTable(str(tmp_path / "t"), key_cols=["k"], seq_col="seq")
    tbl.apply(spark.createDataFrame([(1, 5, "new")], ["k", "seq", "v"]), 0)
    tbl.apply(spark.createDataFrame([(1, 3, "stale")], ["k", "seq", "v"]), 1)
    assert snap(tbl, spark) == {1: (5, "new")}


def test_deletes_tombstone_and_resurrect(spark, tmp_path):
    tbl = UpsertTable(
        str(tmp_path / "t"), key_cols=["k"], seq_col="seq", delete_col="del"
    )
    cols = "k BIGINT, seq BIGINT, v STRING, del BOOLEAN"
    tbl.apply(spark.createDataFrame([(1, 1, "a", False), (2, 1, "b", False)], cols), 0)
    tbl.apply(spark.createDataFrame([(1, 2, None, True)], cols), 1)
    got = {r["k"] for r in tbl.read(spark).collect()}
    assert got == {2}
    # a LATE row older than the delete must not resurrect the key
    tbl.apply(spark.createDataFrame([(1, 1, "late", False)], cols), 2)
    assert {r["k"] for r in tbl.read(spark).collect()} == {2}
    # a genuinely newer insert does resurrect it
    tbl.apply(spark.createDataFrame([(1, 3, "back", False)], cols), 3)
    rows = {r["k"]: r["v"] for r in tbl.read(spark).collect()}
    assert rows == {1: "back", 2: "b"}


def test_equal_sequence_delete_wins(spark, tmp_path):
    """Documented tie rule: a tombstone sharing (key, seq) with a
    non-delete row wins deterministically — regardless of arrival order
    or whether the collision is within one batch or across batches."""
    cols = "k BIGINT, seq BIGINT, v STRING, del BOOLEAN"
    # same-batch collision, both orders
    for rows in ([(1, 5, "keep?", False), (1, 5, None, True)],
                 [(1, 5, None, True), (1, 5, "keep?", False)]):
        tbl = UpsertTable(
            str(tmp_path / f"t{rows[0][3]}"), key_cols=["k"], seq_col="seq",
            delete_col="del",
        )
        tbl.apply(spark.createDataFrame(rows, cols), 0)
        assert tbl.read(spark).count() == 0
    # cross-batch collision: delete arrives AFTER at the same seq
    tbl = UpsertTable(
        str(tmp_path / "tx"), key_cols=["k"], seq_col="seq", delete_col="del"
    )
    tbl.apply(spark.createDataFrame([(1, 5, "row", False)], cols), 0)
    tbl.apply(spark.createDataFrame([(1, 5, None, True)], cols), 1)
    assert tbl.read(spark).count() == 0


def _count_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group and return how many Spark
    jobs it launched."""
    group = f"jobcount-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-count test")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_apply_job_count_independent_of_touched_buckets(spark, tmp_path):
    """The single merge write: job count must NOT grow with the number of
    touched buckets (the r3 scale-killer was one job per bucket). Both
    counted batches are 200 rows, because AQE's job count over the
    persisted batch follows its row count, not the buckets it touches."""
    tbl_few = UpsertTable(
        str(tmp_path / "few"), key_cols=["k"], seq_col="seq", n_buckets=16
    )
    tbl_many = UpsertTable(
        str(tmp_path / "many"), key_cols=["k"], seq_col="seq", n_buckets=16
    )
    one_key = spark.createDataFrame([(1, 1, "a")], ["k", "seq", "v"])
    many_keys = spark.createDataFrame(
        [(i, 1, "x") for i in range(200)], ["k", "seq", "v"]
    )  # 200 keys → all 16 buckets touched
    # seed both so the second apply exercises the read-merge path too
    tbl_few.apply(one_key, 0)
    tbl_many.apply(many_keys, 0)
    # 200 versions of ONE key → one bucket touched
    jobs_few = _count_jobs(spark, lambda: tbl_few.apply(
        spark.createDataFrame([(1, 2 + i, "b") for i in range(200)],
                              ["k", "seq", "v"]), 1))
    jobs_many = _count_jobs(spark, lambda: tbl_many.apply(
        spark.createDataFrame([(i, 2, "y") for i in range(200)],
                              ["k", "seq", "v"]), 1))
    assert jobs_few == jobs_many


def test_partitioned_apply_job_count_independent_of_pairs(spark, tmp_path):
    """PartitionedUpsertTable.apply is also ONE merge write per batch,
    regardless of how many (partition, bucket) pairs the batch touches.
    Both counted batches are 200 rows, as in the unpartitioned test."""
    from pyspark_streaming_base_spark.sinks.upsert import PartitionedUpsertTable

    def mk(name):
        return PartitionedUpsertTable(
            str(tmp_path / name), partition_col="day", key_cols=["k"],
            seq_col="seq", n_buckets=8,
        )

    cols = "day STRING, k BIGINT, seq BIGINT, v STRING"
    one = [("2026-01-01", 1, 1, "a")]
    many = [
        (f"2026-01-{1 + i % 9:02d}", i, 1, "x") for i in range(200)
    ]  # 9 partitions × 8 buckets
    t_one, t_many = mk("one"), mk("many")
    t_one.apply(spark.createDataFrame(one, cols), 0)
    t_many.apply(spark.createDataFrame(many, cols), 0)
    # 200 versions of ONE key → one (partition, bucket) pair touched
    jobs_one = _count_jobs(spark, lambda: t_one.apply(
        spark.createDataFrame(
            [("2026-01-01", 1, 2 + i, "b") for i in range(200)], cols
        ), 1))
    jobs_many = _count_jobs(spark, lambda: t_many.apply(
        spark.createDataFrame(
            [(f"2026-01-{1 + i % 9:02d}", i, 2, "y") for i in range(200)], cols
        ), 1))
    # allow exactly one extra job for the many case: Spark parallelizes
    # FILE LISTING above 32 input paths (parallelPartitionDiscovery) — an
    # O(metadata) driver optimization, not a per-bucket data job. The key
    # invariant stands: the merge itself is one job however many
    # (partition, bucket) pairs the batch touches.
    assert jobs_many <= jobs_one + 1
    got = {
        (r["day"], r["k"]): r["seq"] for r in t_many.read(spark).collect()
    }
    assert len(got) == 200 and set(got.values()) == {2}


@pytest.mark.parametrize(
    "repartition",
    [
        lambda df: df.repartition(8, F.col("_bucket")),
        lambda df: df.repartition(F.col("_bucket")),
    ],
    ids=["counted", "aqe_sized"],
)
def test_merge_plan_has_single_exchange(spark, repartition):
    """The scale property behind the single merge write: the bucket
    repartition is the ONLY exchange — dedup and the rank window both
    group on (_bucket, keys), so HashPartitioning(_bucket) satisfies
    their clustering and neither adds a shuffle, whether the partition
    count is given or left to AQE."""
    from pyspark_streaming_base_spark.sinks.upsert import _keep_latest

    df = spark.createDataFrame(
        [(i % 7, i, "v", False) for i in range(100)],
        "k BIGINT, seq BIGINT, v STRING, del BOOLEAN",
    ).withColumn("_bucket", F.pmod(F.xxhash64("k"), F.lit(8)))
    latest = _keep_latest(
        repartition(df), ["k"], "seq", "del", group_extra=["_bucket"],
    )
    plan = latest._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "partitioned"])
def test_apply_evaluates_batch_once(spark, tmp_path, partitioned):
    """The bucket-id pass and the merge write share ONE evaluation of the
    batch: a foreachBatch DataFrame re-runs its upstream plan (source
    read, state-store restore and commit) on every action, so a Python
    UDF on the key must see each input row exactly once."""
    from pyspark.sql.types import LongType

    from pyspark_streaming_base_spark.sinks.upsert import PartitionedUpsertTable

    seen = spark.sparkContext.accumulator(0)

    def count_key(k):
        seen.add(1)
        return k

    tag = F.udf(count_key, LongType())
    batch = spark.range(50).select(
        tag("id").alias("k"), F.lit(1).cast("bigint").alias("seq"),
        F.lit("2026-01-01").alias("day"),
    )
    root = str(tmp_path / "t")
    tbl = (
        PartitionedUpsertTable(root, partition_col="day", key_cols=["k"], seq_col="seq")
        if partitioned
        else UpsertTable(root, key_cols=["k"], seq_col="seq")
    )
    tbl.apply(batch, 0)
    assert seen.value == 50
    assert tbl.read(spark).count() == 50


def test_compact_job_count_independent_of_buckets(spark, tmp_path):
    cols = "k BIGINT, seq BIGINT, v STRING, del BOOLEAN"

    def mk(name, n_keys):
        tbl = UpsertTable(
            str(tmp_path / name), key_cols=["k"], seq_col="seq",
            delete_col="del", n_buckets=16,
        )
        tbl.apply(
            spark.createDataFrame(
                [(i, 1, "x", i % 3 == 0) for i in range(n_keys)], cols
            ),
            0,
        )
        return tbl

    t_small, t_big = mk("small", 2), mk("big", 200)
    jobs_small = _count_jobs(spark, lambda: t_small.compact(spark, 10))
    jobs_big = _count_jobs(spark, lambda: t_big.compact(spark, 10))
    assert jobs_small == jobs_big


def test_replay_is_idempotent(spark, tmp_path):
    tbl = UpsertTable(str(tmp_path / "t"), key_cols=["k"], seq_col="seq")
    b0 = spark.createDataFrame([(i, 1, f"v{i}") for i in range(20)], ["k", "seq", "v"])
    b1 = spark.createDataFrame([(5, 2, "v5b"), (21, 1, "v21")], ["k", "seq", "v"])
    tbl.apply(b0, 0)
    tbl.apply(b1, 1)
    before = snap(tbl, spark)
    tbl.apply(b1, 1)  # crash-replay of the same batch
    assert snap(tbl, spark) == before
    assert tbl.read(spark).count() == 21


def test_only_touched_buckets_rewritten(spark, tmp_path):
    tbl = UpsertTable(str(tmp_path / "t"), key_cols=["k"], seq_col="seq", n_buckets=8)
    tbl.apply(
        spark.createDataFrame([(i, 1, "x") for i in range(50)], ["k", "seq", "v"]), 0
    )
    manifests_before = {
        b: sorted(os.listdir(tbl._manifest_dir(b)))
        for b in range(8)
        if os.path.isdir(tbl._manifest_dir(b))
    }
    tbl.apply(spark.createDataFrame([(7, 2, "y")], ["k", "seq", "v"]), 1)
    changed = []
    for b in range(8):
        after = (
            sorted(os.listdir(tbl._manifest_dir(b)))
            if os.path.isdir(tbl._manifest_dir(b))
            else []
        )
        if after != manifests_before.get(b, []):
            changed.append(b)
    assert len(changed) == 1  # exactly key 7's bucket


def test_schema_evolution_adds_columns(spark, tmp_path):
    """Additive evolution: a later batch's new column appends to the
    stored schema; pre-evolution rows null-fill it at read; merge
    semantics are unchanged."""
    tbl = UpsertTable(str(tmp_path / "t"), key_cols=["k"], seq_col="seq")
    tbl.apply(spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], ["k", "seq", "v"]), 0)
    tbl.apply(
        spark.createDataFrame(
            [(2, 2, "b2", "extra"), (3, 1, "c", None)],
            "k BIGINT, seq BIGINT, v STRING, w STRING",
        ),
        1,
    )
    got = {r["k"]: (r["seq"], r["v"], r["w"]) for r in tbl.read(spark).collect()}
    assert got == {1: (1, "a", None), 2: (2, "b2", "extra"), 3: (1, "c", None)}
    assert [f.name for f in tbl.read(spark).schema.fields] == ["k", "seq", "v", "w"]
    # a THIRD batch without the new column still merges (w nulls for its rows)
    tbl.apply(spark.createDataFrame([(1, 2, "a2")], ["k", "seq", "v"]), 2)
    got = {r["k"]: (r["v"], r["w"]) for r in tbl.read(spark).collect()}
    assert got == {1: ("a2", None), 2: ("b2", "extra"), 3: ("c", None)}


def test_schema_evolution_guards(spark, tmp_path):
    tbl = UpsertTable(str(tmp_path / "t"), key_cols=["k"], seq_col="seq")
    tbl.apply(spark.createDataFrame([(1, 1, "a")], ["k", "seq", "v"]), 0)
    # missing merge key → explicit error, not silent nulls
    with pytest.raises(ValueError, match="required columns"):
        tbl.apply(spark.createDataFrame([(1, "x")], ["k", "v"]), 1)
    # unsafe type change on an existing column (string seq into the
    # stored BIGINT) → error, not silent truncation
    with pytest.raises(ValueError, match="unsafe cast"):
        tbl.apply(
            spark.createDataFrame(
                [(1, "2", "x")], "k BIGINT, seq STRING, v STRING"
            ),
            1,
        )
    # widening (int batch into bigint stored) is fine
    tbl.apply(
        spark.createDataFrame([(2, 1, "w")], "k INT, seq INT, v STRING"), 2
    )
    assert {r["k"] for r in tbl.read(spark).collect()} == {1, 2}


def test_empty_table_read_raises_without_schema(spark, tmp_path):
    tbl = UpsertTable(str(tmp_path / "t"), key_cols=["k"], seq_col="seq")
    with pytest.raises(FileNotFoundError):
        tbl.read(spark)


def test_streaming_apply_changes_e2e(spark, tmp_path):
    """CDC stream → foreachBatch upsert equals the batch latest-per-key."""
    src = str(tmp_path / "cdc_src")
    changes = [(i % 30, i, f"v{i}") for i in range(200)]  # 30 keys, 200 versions
    cdf = spark.createDataFrame(changes, ["k", "seq", "v"])
    cdf.repartition(4).write.parquet(src)

    tbl = UpsertTable(str(tmp_path / "t"), key_cols=["k"], seq_col="seq")
    stream = (
        spark.readStream.schema("k BIGINT, seq BIGINT, v STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(tbl.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    expect = {
        r["k"]: (r["seq"], r["v"])
        for r in cdf.groupBy("k")
        .agg(F.max_by(F.struct("seq", "v"), "seq").alias("s"))
        .select("k", "s.seq", "s.v")
        .collect()
    }
    assert snap(tbl, spark) == expect


def test_compact_gc_tombstones(spark, tmp_path):
    tbl = UpsertTable(
        str(tmp_path / "t"), key_cols=["k"], seq_col="seq", delete_col="del",
        n_buckets=4,
    )
    cols = "k BIGINT, seq BIGINT, v STRING, del BOOLEAN"
    tbl.apply(
        spark.createDataFrame(
            [(1, 1, "a", False), (2, 1, "b", False), (3, 1, "c", False)], cols
        ),
        0,
    )
    tbl.apply(
        spark.createDataFrame([(1, 2, None, True), (3, 5, None, True)], cols), 1
    )
    assert {r["k"] for r in tbl.read(spark).collect()} == {2}

    # GC tombstones older than seq 4: key 1's tombstone (seq 2) goes,
    # key 3's (seq 5) survives the retention watermark
    tbl.compact(spark, drop_tombstones_before=4)
    assert {r["k"] for r in tbl.read(spark).collect()} == {2}
    stored = spark.read.parquet(
        *[f for b in range(4) for f in tbl._bucket_files(b)]
    )
    tomb = {r["k"] for r in stored.filter("del").collect()}
    assert tomb == {3}
    # table still merges correctly after compaction
    tbl.apply(spark.createDataFrame([(1, 3, "back", False)], cols), 2)
    assert {r["k"] for r in tbl.read(spark).collect()} == {1, 2}


def test_partitioned_upsert_scopes_rewrites(spark, tmp_path):
    from pyspark_streaming_base_spark.sinks.upsert import PartitionedUpsertTable

    tbl = PartitionedUpsertTable(
        str(tmp_path / "pt"),
        partition_col="day",
        key_cols=["k"],
        seq_col="seq",
        n_buckets=4,
    )
    cols = "day STRING, k BIGINT, seq BIGINT, v STRING"
    tbl.apply(
        spark.createDataFrame(
            [("2026-01-01", 1, 1, "a"), ("2026-01-01", 2, 1, "b"),
             ("2026-01-02", 1, 1, "c")],
            cols,
        ),
        0,
    )
    # second batch touches ONLY day 2
    import os as _os

    day1 = str(tmp_path / "pt" / "part=2026-01-01")
    before = {
        r: sorted(f) for r, _, f in _os.walk(day1) if "_manifests" in r
    }
    tbl.apply(spark.createDataFrame([("2026-01-02", 1, 2, "c2")], cols), 1)
    after = {r: sorted(f) for r, _, f in _os.walk(day1) if "_manifests" in r}
    assert before == after  # day 1 untouched

    got = {
        (r["day"], r["k"]): (r["seq"], r["v"])
        for r in tbl.read(spark).collect()
    }
    assert got == {
        ("2026-01-01", 1): (1, "a"),
        ("2026-01-01", 2): (1, "b"),
        ("2026-01-02", 1): (2, "c2"),
    }


def test_time_travel_and_vacuum(spark, tmp_path):
    tbl = UpsertTable(str(tmp_path / "t"), key_cols=["k"], seq_col="seq", n_buckets=2)
    tbl.apply(spark.createDataFrame([(1, 1, "v1"), (2, 1, "w1")], ["k", "seq", "v"]), 0)
    tbl.apply(spark.createDataFrame([(1, 2, "v2")], ["k", "seq", "v"]), 1)
    tbl.apply(spark.createDataFrame([(1, 3, "v3")], ["k", "seq", "v"]), 2)

    # time travel: as_of batch 1 sees v2, as_of 0 sees v1
    assert {r["v"] for r in tbl.read(spark, as_of=1).filter("k = 1").collect()} == {"v2"}
    assert {r["v"] for r in tbl.read(spark, as_of=0).filter("k = 1").collect()} == {"v1"}
    assert {r["v"] for r in tbl.read(spark).filter("k = 1").collect()} == {"v3"}

    # vacuum to the latest snapshot only: history gone, current intact
    removed = tbl.vacuum(retain_last=1)
    assert removed > 0
    assert {r["v"] for r in tbl.read(spark).filter("k = 1").collect()} == {"v3"}
    assert {r["v"] for r in tbl.read(spark, as_of=0).filter("k = 1").collect()} != {"v1"}


def test_soak_cdc_stream_with_restarts_compaction_and_deletes(spark, tmp_path):
    """Storage-layer soak (r5): a CDC stream of 40 micro-batches with
    upserts AND deletes driven through foreachBatch across three
    restarts, with a mid-soak compact(+tombstone GC) and vacuum while
    the stream is down. Asserts: final table == batch latest-per-key
    with delete-wins semantics, bounded on-disk file count after
    compaction (copy-on-write must not accumulate per-batch files
    forever), and idempotent replay of the final batch."""
    import os

    src = str(tmp_path / "cdc_src")
    cols = "k BIGINT, seq BIGINT, v STRING, del BOOLEAN"
    rng_rows = []
    seq = 0
    for batch in range(40):
        rows = []
        for j in range(25):
            k = (batch * 7 + j * 3) % 60
            seq += 1
            # every 11th change is a delete
            is_del = (seq % 11) == 0
            rows.append((k, seq, None if is_del else f"v{seq}", is_del))
        rng_rows.append(rows)

    tbl = UpsertTable(
        str(tmp_path / "t"),
        key_cols=["k"],
        seq_col="seq",
        delete_col="del",
        n_buckets=8,
    )
    ckpt = str(tmp_path / "ckpt")

    def stage(batches):
        for rows in batches:
            spark.createDataFrame(rows, cols).coalesce(1).write.mode(
                "append"
            ).parquet(src)

    def drain():
        q = (
            spark.readStream.schema(cols)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(tbl.foreach_batch())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    stage(rng_rows[:15])
    drain()
    stage(rng_rows[15:30])
    drain()
    # maintenance while the stream is down: GC tombstones below a
    # retention horizon every later change is above (seq 751+ arrives
    # after), then drop superseded snapshot generations
    tbl.compact(spark, drop_tombstones_before=500)
    tbl.vacuum()
    stage(rng_rows[30:])
    drain()

    all_rows = [r for rows in rng_rows for r in rows]
    latest: dict = {}
    for k, s, v, d in all_rows:
        if k not in latest or s > latest[k][0] or (s == latest[k][0] and d):
            latest[k] = (s, v, d)
    expect = {k: (s, v) for k, (s, v, d) in latest.items() if not d}

    got = {
        r["k"]: (r["seq"], r["v"]) for r in tbl.read(spark).collect()
    }
    assert got == expect

    # end-of-soak maintenance bounds storage: copy-on-write generations
    # collapse to O(buckets) files, not O(batches) — and the table still
    # reads identically afterwards
    tbl.compact(spark, drop_tombstones_before=990)
    tbl.vacuum()
    assert {
        r["k"]: (r["seq"], r["v"]) for r in tbl.read(spark).collect()
    } == expect
    n_files = sum(
        1
        for root, _d, names in os.walk(str(tmp_path / "t"))
        for n in names
        if n.endswith(".parquet")
    )
    assert n_files <= 8 * 2, n_files

    # replaying the last committed micro-batch id is a no-op
    before = got
    tbl.foreach_batch()(spark.createDataFrame(rng_rows[-1], cols), 39)
    assert {
        r["k"]: (r["seq"], r["v"]) for r in tbl.read(spark).collect()
    } == before
