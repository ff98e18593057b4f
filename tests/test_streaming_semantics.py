"""Streaming semantics tests: multi-batch replay, watermark late-data
dropping, state continuity across batches — the reference's
harness-test level (hand-fed elements + watermarks asserting operator
state behavior)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from flink_parent_spark.streaming.core import run_stream_to_df


def _write_batches(spark, rows_per_batch, schema):
    """Write each batch as its own parquet file in one directory; with
    maxFilesPerTrigger=1 the file stream source replays them as separate
    micro-batches in lexicographic file order."""
    import time

    d = tempfile.mkdtemp(prefix="fps_batches_")
    for i, rows in enumerate(rows_per_batch):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{d}/staging_{i}"
        )
        part = [f for f in os.listdir(f"{d}/staging_{i}") if f.endswith(".parquet")][0]
        os.rename(f"{d}/staging_{i}/{part}", f"{d}/batch_{i:03d}.parquet")
        shutil.rmtree(f"{d}/staging_{i}")
        time.sleep(1.1)  # distinct mtimes: the file source replays in mtime order
    return d


def test_watermark_drops_late_rows(spark):
    """Tumbling-window agg in append mode: a row arriving after the
    watermark passed its window end is dropped (allowed-lateness parity:
    watermark delay IS the lateness budget)."""
    schema = "ts timestamp, k string, v long"
    batches = [
        # batch 0: window [00:00, 00:10) gets two rows; max ts 00:21
        [("2024-01-01 00:00:01", "a", 1), ("2024-01-01 00:00:02", "a", 1),
         ("2024-01-01 00:21:00", "b", 1)],
        # batch 1: watermark is now 00:21 - 5min = 00:16 > 00:10, so at
        # END of this batch window [00:00,00:10) is emitted and evicted
        [("2024-01-01 00:22:00", "b", 1)],
        # batch 2: a row for the already-closed window -> DROPPED (its
        # state is gone and its window end is below the watermark)
        [("2024-01-01 00:00:03", "a", 100)],
        # batch 3: push watermark far ahead so remaining windows close
        [("2024-01-01 01:00:00", "c", 1)],
    ]
    import datetime as dt

    batches = [
        [(dt.datetime.fromisoformat(t), k, v) for t, k, v in b] for b in batches
    ]
    d = _write_batches(spark, batches, schema)
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "10 minutes"), "k")
        .agg(F.sum("v").alias("total"))
    )
    out = run_stream_to_df(sdf, "append")
    emitted = [
        (r["k"], str(r["window"]["start"]), r["total"]) for r in out.collect()
    ]
    a_windows = [e for e in emitted if e[0] == "a"]
    # exactly one emission for k=a, late v=100 excluded, no re-emission
    assert a_windows == [("a", "2024-01-01 00:00:00", 2)]


def test_state_continuity_across_batches(spark):
    """Streaming dedup keep-first state survives micro-batch boundaries:
    a duplicate key arriving in a later batch is suppressed."""
    import datetime as dt

    from flink_parent_spark.streaming.stateful import streaming_dedup

    schema = "ts timestamp, k string, v long"
    t0 = dt.datetime(2024, 1, 1)
    batches = [
        [(t0, "x", 1), (t0, "y", 2)],
        [(t0 + dt.timedelta(minutes=1), "x", 99)],  # dup key, later batch
        [(t0 + dt.timedelta(minutes=2), "z", 3)],
    ]
    d = _write_batches(spark, batches, schema)
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    deduped = streaming_dedup(sdf, ["k"], "ts", ["v"], keep="first")
    out = run_stream_to_df(deduped, "update")
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {"x": 1, "y": 2, "z": 3}


def test_salted_join_equals_plain_join(spark):
    from flink_parent_spark.operators.skew import salted_join
    from flink_parent_spark.tables import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    plain = (
        t["lineitem"].join(t["part"], t["lineitem"].l_partkey == t["part"].p_partkey)
        .agg(F.count("*"), F.sum("p_retailprice"))
        .collect()
    )
    salted = (
        salted_join(t["lineitem"], t["part"], "l_partkey", "p_partkey", factor=4)
        .agg(F.count("*"), F.sum("p_retailprice"))
        .collect()
    )
    assert plain == salted


def test_idleness_policy_unblocks_idle_source(spark):
    """withIdleness parity: a union of two watermarked sources where one is
    idle (one old row, then nothing). Default min-policy holds the combined
    watermark at the idle source, so no window can close in append mode;
    the max policy (our with_idleness_policy) lets the active source drive.
    """
    import datetime as dtm

    from flink_parent_spark.streaming.core import with_idleness_policy

    schema = "ts timestamp, k string, v long"
    active = [
        [(dtm.datetime(2024, 1, 1, 0, 0, 5), "a", 1),
         (dtm.datetime(2024, 1, 1, 0, 0, 6), "a", 1)],
        [(dtm.datetime(2024, 1, 1, 2, 0, 0), "a", 1)],  # advances to 02:00
    ]
    idle = [[(dtm.datetime(2024, 1, 1, 0, 0, 1), "i", 1)]]  # then silent
    d_active = _write_batches(spark, active, schema)
    d_idle = _write_batches(spark, idle, schema)

    def run(policy_max: bool):
        with_idleness_policy(spark, enabled=policy_max)
        a = (
            spark.readStream.schema(schema).format("parquet").load(d_active)
            .withWatermark("ts", "5 minutes")
        )
        b = (
            spark.readStream.schema(schema).format("parquet").load(d_idle)
            .withWatermark("ts", "5 minutes")
        )
        from pyspark.sql import functions as F

        agg = a.union(b).groupBy(F.window("ts", "10 minutes"), "k").count()
        out = run_stream_to_df(agg, "append").toPandas()
        with_idleness_policy(spark, enabled=False)
        return out

    held = run(policy_max=False)
    # min policy: combined watermark stuck at idle source's 00:00:01-5min,
    # no window is ever sealed for append output
    assert len(held) == 0
    flowing = run(policy_max=True)
    # max policy: active source's 02:00 row seals the 00:00 windows of BOTH
    # branches
    assert len(flowing) >= 2
    assert set(flowing["k"]) == {"a", "i"}


def test_over_range_bounded_out_of_order_across_batches(spark):
    """Watermark-held RANGE-bounded OVER: an out-of-order row arriving in a
    LATER micro-batch (within the delay) must aggregate against the buffer
    as of ITS event time, not against newer already-arrived rows — full
    scrambled replay equals the batch RANGE window."""
    import datetime as dtm

    import pandas as pd

    from flink_parent_spark.streaming.stateful import streaming_over

    T = dtm.datetime(2024, 1, 1)

    def ev(minute, eid, v):
        return (T + dtm.timedelta(minutes=minute), 1, eid, float(v))

    # event-time order: 0,10,20,30,40; arrival scrambles 10 after 20/30
    batches = [
        [ev(0, 0, 1.0), ev(20, 2, 4.0)],
        [ev(30, 3, 8.0), ev(10, 1, 2.0)],   # late-but-in-delay row
        [ev(40, 4, 16.0), ev(240, 9, 0.0)],  # advancer seals everything
    ]
    schema = "ts timestamp, user_id long, event_id long, value double"
    d = _write_batches(spark, batches, schema)
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withWatermark("ts", "30 minutes")
    )
    out = streaming_over(
        sdf, ["user_id"], "ts", "value", ("range", 1800),
        [("sum", "range_sum"), ("count", "range_cnt")], ["event_id"],
        tiebreak_col="event_id",
    )
    got = run_stream_to_df(out, "append").toPandas()

    # trailing 30-minute windows, boundary INCLUSIVE (SQL RANGE PRECEDING).
    # The advancer at minute 240 never seals (wm stops 30 min behind it) and
    # so never fires — the reference's unfired-tail behavior.
    expect = {
        0: (1.0, 1),    # [0]
        1: (3.0, 2),    # [0,10]
        2: (7.0, 3),    # [0,10,20] — includes the late row 10
        3: (15.0, 4),   # [0,10,20,30]
        4: (30.0, 4),   # [10,20,30,40]
    }
    got_m = {int(r.event_id): (r.range_sum, int(r.range_cnt)) for r in got.itertuples()}
    assert got_m == expect


def test_updatable_topn_emits_less_than_retractable(spark):
    """UpdatableTopNFunction parity: on an update-heavy upsert stream where
    most updates do not change the top-n, the updatable strategy emits only
    changed assignments (and consumes 1 upsert row per change instead of a
    -U/+U pair), while the retractable path re-emits the refreshed top-n
    every batch."""
    import datetime as dtm

    from flink_parent_spark.streaming.stateful import (
        streaming_retract_top_n,
        streaming_updatable_top_n,
    )

    t0 = dtm.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dtm.timedelta(seconds=s)

    # key group 'g': u1 leads with 100; u2 keeps updating below the top-1
    upsert_schema = "grp string, uid long, value double, ts timestamp"
    upsert_batches = [
        [("g", 1, 100.0, ts(0)), ("g", 2, 50.0, ts(1))],
        [("g", 2, 60.0, ts(2))],
        [("g", 2, 70.0, ts(3))],
    ]
    d = _write_batches(spark, upsert_batches, upsert_schema)
    sdf = (
        spark.readStream.schema(upsert_schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(d)
    )
    up = streaming_updatable_top_n(
        sdf, ["grp"], "uid", "value", 1, [], arrival_cols=("ts",)
    )
    up_rows = _collect_stream(spark, up)

    # same logical updates as a retraction changelog (-U old, +U new)
    cl_schema = "grp string, uid long, value double, __rowkind string, seq long"
    cl_batches = [
        [("g", 1, 100.0, "+I", 0), ("g", 2, 50.0, "+I", 1)],
        [("g", 2, 50.0, "-U", 2), ("g", 2, 60.0, "+U", 3)],
        [("g", 2, 60.0, "-U", 4), ("g", 2, 70.0, "+U", 5)],
    ]
    d2 = _write_batches(spark, cl_batches, cl_schema)
    sdf2 = (
        spark.readStream.schema(cl_schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(d2)
    )
    rt = streaming_retract_top_n(
        sdf2, ["grp"], "value", 1, ["uid"], sequence_col="seq",
        tiebreak_col="uid",
    )
    rt_rows = _collect_stream(spark, rt)

    # updatable: only batch 1 changes the top-1 -> a single emission;
    # retractable: refreshed top-1 re-emitted on every batch
    assert len(up_rows) == 1
    assert up_rows.iloc[0]["uid"] == 1 and up_rows.iloc[0]["rank"] == 1
    assert len(rt_rows) == 3
    # both agree on the final top-1
    assert set(rt_rows["uid"]) == {1}


def _collect_stream(spark, sdf):
    """Run a stateful streaming DataFrame to completion (separate batches)
    and return ALL emitted rows across batches as one pandas frame."""
    import uuid as _uuid

    captured = []

    def sink(bdf, bid):
        captured.append(bdf.toPandas())

    ckpt = os.path.join(
        tempfile.gettempdir(), f"fps_ckpt_upd_{_uuid.uuid4().hex[:8]}"
    )
    q = (
        sdf.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    import pandas as pd

    return pd.concat(captured, ignore_index=True) if captured else pd.DataFrame()


def test_dedup_keep_first_state_ttl_expires_and_reemits(spark):
    """StateTtlConfig parity on dedup keep-first: a key re-arriving BEFORE
    the TTL is suppressed; once the watermark passes written-time + TTL the
    state is invisible/removed and the key re-emits as new."""
    import datetime as dtm

    from flink_parent_spark.streaming.stateful import streaming_dedup

    t0 = dtm.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dtm.timedelta(minutes=m)

    schema = "uid long, ts timestamp, value double"
    batches = [
        [(1, ts(0), 10.0)],            # first arrival -> emit
        [(1, ts(2), 20.0)],            # within TTL (5 min) -> suppressed
        [(9, ts(30), 0.0)],            # advancer: watermark -> ~min 30
        [(1, ts(31), 30.0)],           # after expiry -> re-emit as new
    ]
    d = _write_batches(spark, batches, schema)
    sdf = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(d)
        .withWatermark("ts", "1 second")
    )
    out = streaming_dedup(sdf, ["uid"], "ts", ["value"], keep="first",
                          ttl_seconds=300)
    rows = _collect_stream(spark, out)
    u1 = rows[rows["uid"] == 1].sort_values("value")
    # exactly two emissions for uid 1: the original and the post-TTL rebirth
    assert list(u1["value"]) == [10.0, 30.0]


def test_queryable_state_snapshot_and_point_lookup(spark):
    """KeyedStream.asQueryableState + QueryableStateClient.getKvState parity:
    a running aggregation's keyed state is readable from outside the query —
    full snapshot matches the batch aggregate, point lookup returns the one
    key, and a historical batchId reads the earlier snapshot."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from flink_parent_spark.streaming.queryable_state import (
        QueryableStateRegistry,
    )

    src = tempfile.mkdtemp(prefix="qstate_src_")
    ckpt = os.path.join(tempfile.gettempdir(), "fps_qstate_ckpt_" + os.path.basename(src))
    schema = "id bigint, k bigint"
    spark.createDataFrame(
        [(i, i % 5) for i in range(200)], schema
    ).coalesce(1).write.mode("overwrite").parquet(src)

    sdf = spark.readStream.schema(schema).parquet(src)
    agg = sdf.groupBy("k").agg(F.count("*").alias("count"), F.sum("id").alias("sum"))
    q = (
        agg.writeStream.format("memory").queryName("qstate_agg")
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    reg = QueryableStateRegistry(spark)
    reg.register("per_key_totals", ckpt)
    client = reg.client()

    meta = client.state_metadata("per_key_totals")
    assert "stateStoreSave" in [r.operatorName for r in meta.collect()]

    snap = {r["k"]: (r["count"], r["sum"]) for r in client.state("per_key_totals").collect()}
    expected = {
        r["k"]: (r["count"], r["sum"])
        for r in spark.read.parquet(src)
        .groupBy("k").agg(F.count("*").alias("count"), F.sum("id").alias("sum"))
        .collect()
    }
    assert snap == expected

    hit = client.get_kv_state("per_key_totals", {"k": 3})
    assert len(hit) == 1 and (hit[0]["count"], hit[0]["sum"]) == expected[3]
    miss = client.get_kv_state("per_key_totals", {"k": 99})
    assert miss == []


def test_read_keyed_state_offline(spark):
    """State Processor API read side: an offline checkpoint's keyed state
    loads as a batch DataFrame without any registry setup."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from flink_parent_spark.streaming.queryable_state import read_keyed_state

    src = tempfile.mkdtemp(prefix="spapi_src_")
    ckpt = os.path.join(tempfile.gettempdir(), "fps_spapi_ckpt_" + os.path.basename(src))
    spark.createDataFrame([(i, i % 3) for i in range(30)], "id bigint, k bigint") \
        .coalesce(1).write.mode("overwrite").parquet(src)
    q = (
        spark.readStream.schema("id bigint, k bigint").parquet(src)
        .groupBy("k").agg(F.count("*").alias("count"))
        .writeStream.format("memory").queryName("spapi_agg")
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    state = read_keyed_state(spark, ckpt)
    assert {r["k"]: r["count"] for r in state.collect()} == {0: 10, 1: 10, 2: 10}


def test_punctuated_watermark_advances_ahead_of_bounded(spark):
    """WatermarkStrategy custom-generator parity (round-6 stretch): a
    punctuation event advances the watermark ahead of the
    bounded-out-of-orderness bound, so a subsequent event that the bounded
    policy would still accept is dropped as late."""
    import datetime as dtm

    from flink_parent_spark.streaming.core import punctuated_replay

    schema = "ts timestamp, k string, marker_to timestamp"
    t0 = dtm.datetime(2024, 1, 1)
    batches = [
        # batch 0: normal event, then a punctuation carrying an explicit
        # end-of-interval marker far ahead of its own timestamp
        [(t0, "a", None),
         (t0 + dtm.timedelta(seconds=10), "punct",
          t0 + dtm.timedelta(minutes=10))],
        # batch 1: an event at +60s — within the 30s bounded delay of the
        # punctuation event, but far behind the punctuated watermark
        [(t0 + dtm.timedelta(seconds=60), "b", None),
         (t0 + dtm.timedelta(minutes=11), "c", None)],
    ]
    d = _write_batches(spark, batches, schema)
    sdf = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(d)
    )

    seen = []
    trace = punctuated_replay(
        sdf,
        "ts",
        on_event=lambda row, wm: row["marker_to"],
        process=lambda ot, late, wm, bid: seen.append(
            (bid, sorted(r["k"] for r in ot), sorted(r["k"] for r in late))
        ),
        delay_seconds=30,
    )
    assert seen == [
        (0, ["a", "punct"], []),
        (1, ["c"], ["b"]),   # b is late only because the punctuation advanced
    ]
    # the watermark after batch 0 is the marker, not max_ts - 30s
    assert trace[0][1] == dtm.datetime(2024, 1, 1, 0, 10)
    # monotone afterwards
    assert trace[1][1] >= trace[0][1]


def test_rocksdb_state_backend(spark):
    """RocksDB state backend parity (flink-statebackend-rocksdb): the
    stateful streaming operators run unchanged on Spark's RocksDB state
    store provider and produce identical results; the checkpoint carries
    RocksDB SST state."""
    import datetime as dtm
    import glob
    import os
    import tempfile
    import uuid

    from flink_parent_spark.streaming.core import use_rocksdb_state_backend
    from flink_parent_spark.streaming.stateful import streaming_top_n

    schema = "ts timestamp, k string, v double, i long"
    t0 = dtm.datetime(2024, 1, 1)
    rows = [
        (t0, "a", 5.0, 1), (t0, "a", 9.0, 2), (t0, "a", 7.0, 3),
        (t0, "b", 1.0, 4), (t0, "b", 3.0, 5),
    ]
    d = tempfile.mkdtemp(prefix="fps_rocks_")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{d}/in")
    use_rocksdb_state_backend(spark)
    try:
        sdf = spark.readStream.schema(schema).parquet(f"{d}/in")
        tn = streaming_top_n(sdf, ["k"], "v", 2, ["i"])
        name = f"rocks_{uuid.uuid4().hex[:6]}"
        ckpt = os.path.join(tempfile.gettempdir(), f"fps_ckpt_{name}")
        q = (
            tn.writeStream.outputMode("update").format("memory")
            .queryName(name).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {(r.k, r.i, r.rank) for r in spark.table(name).collect()}
        assert got == {("a", 2, 1), ("a", 3, 2), ("b", 5, 1), ("b", 4, 2)}
        # the state checkpoint is RocksDB-format (sst/changelog zips), not
        # the HDFS-backed provider's .delta files
        deltas = glob.glob(f"{ckpt}/state/**/*.delta", recursive=True)
        assert not deltas
        rocks = glob.glob(f"{ckpt}/state/**/*.zip", recursive=True) + glob.glob(
            f"{ckpt}/state/**/*.sst", recursive=True
        )
        assert rocks
    finally:
        use_rocksdb_state_backend(spark, enabled=False)


def test_topn_all_strategies_timestamp_order_col(spark):
    """All three Top-N strategies sort any comparable sortKey — here a
    timestamp order column descending ("latest N versions per key", the
    reference's AbstractTopNFunction sorts arbitrary comparable sortKeys).
    Regression: `sign * order_col` multiplied pd.Timestamp by -1.0 →
    TypeError in the Python worker for the updatable/retractable paths."""
    import datetime as dtm

    from flink_parent_spark.streaming.stateful import (
        streaming_retract_top_n,
        streaming_top_n,
        streaming_updatable_top_n,
    )

    t0 = dtm.datetime(2024, 3, 1)

    def ts(s):
        return t0 + dtm.timedelta(seconds=s)

    # append path: keep 2 latest events per key
    schema = "k string, ts timestamp, i long"
    batches = [
        [("a", ts(10), 1), ("a", ts(30), 2)],
        [("a", ts(20), 3), ("b", ts(5), 4)],
    ]
    d = _write_batches(spark, batches, schema)
    sdf = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(d)
    )
    tn = streaming_top_n(
        sdf, ["k"], "ts", 2, ["i"], descending=True, tiebreak_col="i"
    )
    rows = _collect_stream(spark, tn)
    last_a = rows[rows["k"] == "a"].tail(2)
    assert list(last_a["i"]) == [2, 3]  # ts(30) rank1, ts(20) rank2

    # updatable path: latest version per key by timestamp
    up_schema = "grp string, uid long, ts timestamp"
    up_batches = [
        [("g", 1, ts(100)), ("g", 2, ts(50))],
        [("g", 2, ts(200))],
    ]
    d2 = _write_batches(spark, up_batches, up_schema)
    sdf2 = (
        spark.readStream.schema(up_schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(d2)
    )
    up = streaming_updatable_top_n(
        sdf2, ["grp"], "uid", "ts", 1, [], descending=True
    )
    up_rows = _collect_stream(spark, up)
    assert list(up_rows["uid"])[-1] == 2  # ts(200) takes rank 1

    # retractable path: -U removes the old version, timestamp-desc rank
    cl_schema = "grp string, uid long, ts timestamp, __rowkind string, seq long"
    cl_batches = [
        [("g", 1, ts(100), "+I", 0), ("g", 2, ts(50), "+I", 1)],
        [("g", 2, ts(50), "-U", 2), ("g", 2, ts(200), "+U", 3)],
    ]
    d3 = _write_batches(spark, cl_batches, cl_schema)
    sdf3 = (
        spark.readStream.schema(cl_schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(d3)
    )
    rt = streaming_retract_top_n(
        sdf3, ["grp"], "ts", 1, ["uid"], descending=True,
        sequence_col="seq", tiebreak_col="uid",
    )
    rt_rows = _collect_stream(spark, rt)
    assert list(rt_rows["uid"]) == [1, 2]  # batch1 top = uid1, batch2 top = uid2


def _add_batch_file(spark, d, i, rows, schema):
    """Append one batch parquet file to an existing replay directory."""
    import time as _time

    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        f"{d}/staging_{i}"
    )
    part = [f for f in os.listdir(f"{d}/staging_{i}") if f.endswith(".parquet")][0]
    os.rename(f"{d}/staging_{i}/{part}", f"{d}/batch_{i:03d}.parquet")
    shutil.rmtree(f"{d}/staging_{i}")
    _time.sleep(1.1)


def _drain(spark, src_dir, schema, build, ckpt, mode="update"):
    """Run build(file-stream) over everything currently in src_dir with
    availableNow, capturing all emitted rows. Re-invoking with the SAME
    ckpt resumes from the recorded offsets + state (restart-from-
    checkpoint); a fresh ckpt replays from scratch."""
    import pandas as pd

    sdf = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(src_dir)
    )
    captured = []
    q = (
        build(sdf).writeStream.outputMode(mode)
        .foreachBatch(lambda b, _i: captured.append(b.toPandas()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return pd.concat(captured, ignore_index=True) if captured else pd.DataFrame()


@pytest.mark.parametrize("rocksdb", [False, True])
def test_restart_from_checkpoint_exactly_once(spark, rocksdb):
    """The reference's core operational promise (CheckpointCoordinator.java:94,
    exercised by ~40 e2e recovery modules; SURVEY §5(d)): a stateful query
    stopped mid-replay and RESTARTED FROM ITS CHECKPOINT produces exactly
    the output of the uninterrupted run — state recovered, consumed input
    not re-emitted, nothing lost. Driven for dedup keep-first (recovered
    seen-keys state must suppress post-restart duplicates) and retract
    Top-N (a post-restart retraction must promote a row that only exists
    in recovered state), on both state store providers."""
    import datetime as dtm
    import uuid as _uuid

    import pandas as pd

    from flink_parent_spark.streaming.core import use_rocksdb_state_backend
    from flink_parent_spark.streaming.stateful import (
        streaming_dedup,
        streaming_retract_top_n,
    )

    t0 = dtm.datetime(2024, 5, 1)

    def ts(s):
        return t0 + dtm.timedelta(seconds=s)

    tag = _uuid.uuid4().hex[:8]
    use_rocksdb_state_backend(spark, enabled=rocksdb)
    try:
        # ---- dedup keep-first -------------------------------------------
        schema = "k string, ts timestamp, v long"
        d = tempfile.mkdtemp(prefix=f"fps_ckpt_dd_{tag}_")
        _add_batch_file(spark, d, 0, [("A", ts(0), 1), ("B", ts(1), 2)], schema)

        def build_dedup(sdf):
            return streaming_dedup(sdf, ["k"], "ts", ["v"], keep="first")

        ckpt = os.path.join(tempfile.gettempdir(), f"fps_ckpt_dd_{tag}")
        part1 = _drain(spark, d, schema, build_dedup, ckpt)  # consumes b0, "crashes"
        # more input arrives while down: a DUPLICATE of A and fresh keys
        _add_batch_file(spark, d, 1, [("A", ts(5), 9), ("C", ts(6), 3)], schema)
        _add_batch_file(spark, d, 2, [("B", ts(7), 9), ("D", ts(8), 4)], schema)
        part2 = _drain(spark, d, schema, build_dedup, ckpt)  # restart, same ckpt

        uninterrupted = _drain(
            spark, d, schema, build_dedup,
            os.path.join(tempfile.gettempdir(), f"fps_ckpt_dd_ref_{tag}"),
        )
        got = sorted(map(tuple, pd.concat([part1, part2])[["k", "v"]].values.tolist()))
        exp = sorted(map(tuple, uninterrupted[["k", "v"]].values.tolist()))
        assert got == exp == [("A", 1), ("B", 2), ("C", 3), ("D", 4)]
        # the restart consumed only the new files: batch-0 keys not re-emitted
        assert set(part2["k"]) == {"C", "D"}

        # ---- retract Top-N ----------------------------------------------
        cl_schema = "grp string, x long, __rowkind string, seq long"
        d2 = tempfile.mkdtemp(prefix=f"fps_ckpt_tn_{tag}_")
        _add_batch_file(
            spark, d2, 0,
            [("g", 5, "+I", 0), ("g", 3, "+I", 1)], cl_schema,
        )

        def build_topn(sdf):
            return streaming_retract_top_n(
                sdf, ["grp"], "x", 1, [], sequence_col="seq", tiebreak_col="x"
            )

        ckpt2 = os.path.join(tempfile.gettempdir(), f"fps_ckpt_tn_{tag}")
        p1 = _drain(spark, d2, cl_schema, build_topn, ckpt2)   # top1 = 5
        # while down: retract the leader — 3 must surface from RECOVERED state
        _add_batch_file(spark, d2, 1, [("g", 5, "-D", 2)], cl_schema)
        p2 = _drain(spark, d2, cl_schema, build_topn, ckpt2)
        ref = _drain(
            spark, d2, cl_schema, build_topn,
            os.path.join(tempfile.gettempdir(), f"fps_ckpt_tn_ref_{tag}"),
        )
        assert list(p1["x"]) == [5]
        assert list(p2["x"]) == [3]  # exactly-once: emitted once, from state
        assert list(ref["x"]) == [5, 3]
    finally:
        use_rocksdb_state_backend(spark, enabled=False)



def test_group_agg_changelog_trace_across_batches(spark):
    """streaming_group_agg_changelog (GroupAggFunction.java:121 producing
    side): first row per key emits +I(agg); each later row emits
    -U(previous agg) then +U(new agg) — across micro-batch boundaries with
    persisted accumulators, and __seq stays monotone across batches so
    downstream consumers can restore causal order after a file hop."""
    import datetime as dtm

    from flink_parent_spark.streaming.changelog import (
        streaming_group_agg_changelog,
    )

    t0 = dtm.datetime(2024, 7, 1)
    schema = "k string, ts timestamp, v double"
    batches = [
        [("a", t0, 10.0), ("a", t0 + dtm.timedelta(seconds=1), 5.0)],
        [("a", t0 + dtm.timedelta(seconds=2), 2.5), ("b", t0, 1.0)],
    ]
    d = _write_batches(spark, batches, schema)
    sdf = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(d)
    )
    cl = streaming_group_agg_changelog(sdf, ["k"], "v", "ts", sum_alias="total")
    import pandas as pd
    import uuid as _uuid

    captured = []
    ckpt = os.path.join(tempfile.gettempdir(), f"fps_ckpt_gac_{_uuid.uuid4().hex[:8]}")
    q = (
        cl.writeStream.outputMode("append")
        .foreachBatch(lambda b, _i: captured.append(b.toPandas()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    rows = pd.concat(captured, ignore_index=True)
    a = rows[rows["k"] == "a"].sort_values("__seq")
    got = list(zip(a["__rowkind"], a["n"], a["total"]))
    assert got == [
        ("+I", 1, 10.0),
        ("-U", 1, 10.0), ("+U", 2, 15.0),
        ("-U", 2, 15.0), ("+U", 3, 17.5),  # batch 2: accumulator persisted
    ]
    assert list(a["__seq"]) == [1, 2, 3, 4, 5]
    b = rows[rows["k"] == "b"]
    assert list(zip(b["__rowkind"], b["n"], b["total"])) == [("+I", 1, 1.0)]


def test_punctuated_keyed_matches_driver_harness(spark):
    """Distributed per-key punctuated watermarks (punctuated_replay_keyed,
    applyInPandasWithState — no driver collect) match the driver-side
    semantics harness (punctuated_replay) run per key: same late-row sets,
    same final watermark; a punctuation on one key must NOT advance
    another key's clock."""
    import datetime as dtm

    import pandas as pd

    from flink_parent_spark.streaming.core import (
        punctuated_replay,
        punctuated_replay_keyed,
    )

    t0 = dtm.datetime(2024, 8, 1)

    def ts(m):
        return t0 + dtm.timedelta(minutes=m)

    def on_event(row, wm):
        # a 'flush' event punctuates: watermark jumps to its own ts + 30m
        if row["etype"] == "flush":
            return row["ts"] + dtm.timedelta(minutes=30)
        return None

    schema = "k string, ts timestamp, etype string, i long"
    batches = [
        # A: normal, then flush at 20m -> wm jumps to 50m
        # B: same shape but NO flush -> its wm stays behind
        [("A", ts(0), "e", 0), ("A", ts(20), "flush", 1),
         ("B", ts(0), "e", 2), ("B", ts(20), "e", 3)],
        # 40m rows: late for A (wm 50m), on time for B
        [("A", ts(40), "e", 4), ("B", ts(40), "e", 5)],
        [("A", ts(60), "e", 6), ("B", ts(60), "e", 7)],
    ]
    d = _write_batches(spark, batches, schema)
    sdf = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(d)
    )
    out = punctuated_replay_keyed(
        sdf, ["k"], "ts", on_event, delay_seconds=300, tiebreak_col="i"
    )
    import uuid as _uuid

    captured = []
    ckpt = os.path.join(tempfile.gettempdir(), f"fps_ckpt_pk_{_uuid.uuid4().hex[:8]}")
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda b, _i: captured.append(b.toPandas()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = pd.concat(captured, ignore_index=True)

    # per-key independence: A's 40m row is late (flush advanced A to 50m),
    # B's 40m row is on time (B never punctuated)
    assert bool(got[got["i"] == 4]["__late"].iloc[0]) is True
    assert bool(got[got["i"] == 5]["__late"].iloc[0]) is False

    # oracle: the driver-side harness run per key must agree exactly
    for k in ("A", "B"):
        sub = (
            spark.readStream.schema(schema).format("parquet")
            .option("maxFilesPerTrigger", 1).load(d)
            .filter(F.col("k") == k)
        )
        seen = {"late": set(), "wm": None}

        def proc(on_time, late, wm, bid, _s=seen):
            _s["late"].update(r["i"] for r in late)
            _s["wm"] = wm

        punctuated_replay(sub, "ts", on_event, proc, delay_seconds=300)
        dist_late = set(got[(got["k"] == k) & got["__late"]]["i"])
        assert dist_late == seen["late"], f"key {k}"
        dist_wm = got[got["k"] == k].sort_values("i")["__wm"].iloc[-1]
        assert dist_wm.to_pydatetime() == seen["wm"], f"key {k}"


def test_state_processor_write_side_bootstrap_savepoint(spark):
    """State Processor API WRITE side (flink-state-processing-api
    Savepoint.create().withOperator(uid, bootstrapWith(dataset)).write()):
    a batch dataset bootstraps an operator's keyed state producing NO
    output; the state is offline-readable before any live row flows; and
    the live query starting from the savepoint behaves as if the
    bootstrap history had been processed exactly once."""
    import datetime as dtm

    from flink_parent_spark.streaming.queryable_state import read_keyed_state
    from flink_parent_spark.streaming.state_processor import (
        create_savepoint,
        load_savepoint,
    )
    from flink_parent_spark.streaming.stateful import streaming_dedup
    from flink_parent_spark.streaming.changelog import (
        streaming_group_agg_changelog,
    )

    t0 = dtm.datetime(2024, 9, 1)

    def ts(s):
        return t0 + dtm.timedelta(seconds=s)

    sp_dir = os.path.join(tempfile.gettempdir(), "fps_savepoint_unit")
    schema = "k string, ts timestamp, v double"
    boot = spark.createDataFrame(
        [("A", ts(0), 10.0), ("B", ts(1), 20.0)], schema
    )
    sp = (
        create_savepoint(spark, sp_dir)
        .with_operator("dedup", boot)
        .with_operator("agg", boot)
    )
    sp.write()
    esp = load_savepoint(spark, sp_dir)

    # --- dedup keep-first ------------------------------------------------
    def build_dedup(sdf):
        return streaming_dedup(sdf, ["k"], "ts", ["v"], keep="first")

    ckpt = esp.bootstrap("dedup", build_dedup)
    # write side contract: state exists BEFORE any live row, output empty
    st = read_keyed_state(spark, ckpt)
    assert st.count() == 2  # A and B seeded

    live = tempfile.mkdtemp(prefix="fps_sp_live_")
    _add_batch_file(
        spark, live, 0, [("A", ts(10), 99.0), ("C", ts(11), 3.0)], schema
    )
    out = esp.run_operator("dedup", build_dedup, live)
    # bootstrapped A suppressed (exactly-once vs the savepoint history),
    # bootstrap rows themselves never emitted
    assert sorted(zip(out["k"], out["v"])) == [("C", 3.0)]

    # --- agg changelog: live emissions retract the BOOTSTRAPPED agg ------
    def build_agg(sdf):
        return streaming_group_agg_changelog(
            sdf, ["k"], "v", "ts", sum_alias="total"
        )

    live2 = tempfile.mkdtemp(prefix="fps_sp_live2_")
    _add_batch_file(spark, live2, 0, [("A", ts(20), 5.0)], schema)
    out2 = esp.run_operator("agg", build_agg, live2, output_mode="append")
    got = list(zip(out2["__rowkind"], out2["n"], out2["total"]))
    # the -U carries the bootstrapped accumulator (n=1 total=10) that was
    # never emitted — proof the savepoint seeded state without output
    assert got == [("-U", 1, 10.0), ("+U", 2, 15.0)]


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_topn_strategies_randomized_timestamp_order(spark, seed):
    """Randomized (seeded) cross-check of all three streaming Top-N
    strategies with a TIMESTAMP order column against pandas oracles over
    multi-batch replays — the property the reference's
    AbstractTopNFunction guarantees for any comparable sortKey."""
    import datetime as dtm
    import random

    import pandas as pd

    from flink_parent_spark.streaming.stateful import (
        streaming_retract_top_n,
        streaming_top_n,
        streaming_updatable_top_n,
    )

    rng = random.Random(seed)
    t0 = dtm.datetime(2024, 10, 1)
    n = rng.randint(1, 3)

    # ---- append-only Top-N ---------------------------------------------
    rows = [
        ("k" + str(rng.randint(0, 1)), t0 + dtm.timedelta(minutes=rng.randint(0, 500)), i)
        for i in range(24)
    ]
    batches = [rows[:8], rows[8:16], rows[16:]]
    schema = "k string, ts timestamp, i long"
    d = _write_batches(spark, batches, schema)
    sdf = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(d)
    )
    tn = streaming_top_n(sdf, ["k"], "ts", n, ["i"], descending=True,
                         tiebreak_col="i")
    captured = []
    import uuid as _uuid

    ckpt = os.path.join(tempfile.gettempdir(), f"fps_ckpt_rtn_{_uuid.uuid4().hex[:8]}")
    q = (
        tn.writeStream.outputMode("update")
        .foreachBatch(lambda b, _i: captured.append(b.toPandas()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    # final per-key ranking = the LAST batch that emitted for that key
    final: dict = {}
    for bp in captured:
        for k in set(bp["k"]):
            final[k] = bp[bp["k"] == k][["k", "ts", "i", "rank"]]
    pdf = pd.DataFrame(rows, columns=["k", "ts", "i"])
    for k, got in final.items():
        exp = (
            pdf[pdf["k"] == k]
            .sort_values("i", kind="stable")
            .sort_values("ts", ascending=False, kind="stable")
            .head(n)
        )
        assert list(got.sort_values("rank")["i"]) == list(exp["i"]), (
            f"seed {seed} key {k} append path"
        )

    # ---- updatable (upsert by uid) & retractable (explicit changelog) ---
    upserts = [
        (rng.randint(0, 5), t0 + dtm.timedelta(minutes=rng.randint(0, 500)))
        for _ in range(18)
    ]
    up_rows = [("g", uid, ts, i) for i, (uid, ts) in enumerate(upserts)]
    up_schema = "grp string, uid long, ts timestamp, arr long"
    d2 = _write_batches(spark, [up_rows[:9], up_rows[9:]], up_schema)
    sdf2 = (
        spark.readStream.schema(up_schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(d2)
    )
    up = streaming_updatable_top_n(
        sdf2, ["grp"], "uid", "ts", n, [], descending=True,
        arrival_cols=("arr",),
    )
    cap2 = []
    ckpt2 = os.path.join(tempfile.gettempdir(), f"fps_ckpt_rup_{_uuid.uuid4().hex[:8]}")
    q2 = (
        up.writeStream.outputMode("update")
        .foreachBatch(lambda b, _i: cap2.append(b.toPandas()))
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(300)
    allup = pd.concat([c for c in cap2 if len(c)], ignore_index=True)
    # final assignment per rank = last emission for that rank
    got_final = {
        r: allup[allup["rank"] == r].iloc[-1]["uid"]
        for r in sorted(set(allup["rank"]))
    }
    live = {}
    for uid, ts in upserts:
        live[uid] = ts  # last write wins (arrival order)
    oracle = sorted(live.items(), key=lambda t: t[0])
    oracle.sort(key=lambda t: t[1], reverse=True)
    exp_final = {r + 1: uid for r, (uid, _) in enumerate(oracle[:n])}
    assert got_final == exp_final, f"seed {seed} updatable path"

    # retractable: the same upserts as an explicit changelog
    cl, cur, seq = [], {}, 0
    for uid, ts in upserts:
        if uid in cur:
            cl.append(("g", uid, cur[uid], "-U", seq)); seq += 1
            cl.append(("g", uid, ts, "+U", seq)); seq += 1
        else:
            cl.append(("g", uid, ts, "+I", seq)); seq += 1
        cur[uid] = ts
    cl_schema = "grp string, uid long, ts timestamp, __rowkind string, seq long"
    d3 = _write_batches(spark, [cl[: len(cl) // 2], cl[len(cl) // 2:]], cl_schema)
    sdf3 = (
        spark.readStream.schema(cl_schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(d3)
    )
    rt = streaming_retract_top_n(
        sdf3, ["grp"], "ts", n, ["uid"], descending=True,
        sequence_col="seq", tiebreak_col="uid",
    )
    cap3 = []
    ckpt3 = os.path.join(tempfile.gettempdir(), f"fps_ckpt_rrt_{_uuid.uuid4().hex[:8]}")
    q3 = (
        rt.writeStream.outputMode("update")
        .foreachBatch(lambda b, _i: cap3.append(b.toPandas()))
        .option("checkpointLocation", ckpt3)
        .trigger(availableNow=True).start()
    )
    q3.awaitTermination(300)
    last = cap3[-1] if len(cap3[-1]) else cap3[-2]
    exp_rt = [uid for uid, _ in oracle[:n]]
    assert list(last.sort_values("rank")["uid"]) == exp_rt, (
        f"seed {seed} retractable path"
    )


@pytest.mark.parametrize("rocksdb", [False, True])
def test_restart_group_agg_changelog_exactly_once(spark, rocksdb):
    """Restart-from-checkpoint for the retraction-EMITTING group agg (the
    stage-1 operator of the three-stage chain, GroupAggFunction.java:121
    producing side): a crash after batch 0 and a restart over the files
    that arrived while down must produce exactly the uninterrupted run's
    -U/+U trace — the recovered accumulator feeds the next UPDATE_BEFORE,
    and `__seq` (derived from the PERSISTED consumed-row count) stays
    strictly monotone per key across the restart, which is what lets the
    downstream retract join/Top-N restore causal order after recovery."""
    import datetime as dtm
    import uuid as _uuid

    import pandas as pd

    from flink_parent_spark.streaming.changelog import (
        streaming_group_agg_changelog,
    )
    from flink_parent_spark.streaming.core import use_rocksdb_state_backend

    t0 = dtm.datetime(2024, 6, 1)

    def ts(s):
        return t0 + dtm.timedelta(seconds=s)

    tag = _uuid.uuid4().hex[:8]
    schema = "k string, ts timestamp, v double"
    use_rocksdb_state_backend(spark, enabled=rocksdb)
    try:
        d = tempfile.mkdtemp(prefix=f"fps_ckpt_gac_{tag}_")
        _add_batch_file(spark, d, 0, [("a", ts(0), 10.0), ("b", ts(1), 1.0)], schema)

        def build(sdf):
            return streaming_group_agg_changelog(sdf, ["k"], "v", "ts")

        ckpt = os.path.join(tempfile.gettempdir(), f"fps_ckpt_gac_{tag}")
        p1 = _drain(spark, d, schema, build, ckpt, mode="append")
        # while down: more purchases for both keys
        _add_batch_file(spark, d, 1, [("a", ts(5), 5.0)], schema)
        _add_batch_file(spark, d, 2, [("b", ts(6), 2.0), ("a", ts(7), 2.5)], schema)
        p2 = _drain(spark, d, schema, build, ckpt, mode="append")

        ref = _drain(
            spark, d, schema, build,
            os.path.join(tempfile.gettempdir(), f"fps_ckpt_gac_ref_{tag}"),
            mode="append",
        )
        both = pd.concat([p1, p2], ignore_index=True)
        trace = lambda f: sorted(  # noqa: E731
            map(tuple, f[["k", "__rowkind", "n", "total", "__seq"]].values.tolist())
        )
        assert trace(both) == trace(ref)
        # the recovered accumulator produced the correct -U(old)/+U(new)
        # around the restart boundary for key a: -U(10.0) then +U(15.0)
        a2 = both[(both["k"] == "a")].sort_values("__seq")
        assert list(zip(a2["__rowkind"], a2["total"]))[:4] == [
            ("+I", 10.0), ("-U", 10.0), ("+U", 15.0), ("-U", 15.0),
        ]
        # __seq strictly monotone per key ACROSS the restart
        for k, g in both.groupby("k"):
            s = list(g.sort_values("__seq")["__seq"])
            assert s == sorted(set(s)), f"__seq not monotone for {k}: {s}"
        # restart re-emitted nothing from batch 0
        assert len(p1) == 2 and len(p2) == len(ref) - 2
    finally:
        use_rocksdb_state_backend(spark, enabled=False)


def test_dedup_ttl_expired_on_write_does_not_crash(spark):
    """Regression (caught by the at-volume streaming sweep): a state entry
    whose event-time + TTL is ALREADY behind the advanced watermark must
    not crash the dedup operator. Spark rejects a timeout timestamp in the
    past; the reference's TTL cleanup (StateTtlConfig) just collects the
    expired entry at the next opportunity — so the timeout clamps to one
    tick past the watermark. Scenario: a fast key advances the watermark
    far ahead, then a slow key's first-and-only row arrives with an event
    time so old that ts + ttl < watermark."""
    import datetime as dtm

    from flink_parent_spark.streaming.stateful import streaming_dedup

    t0 = dtm.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dtm.timedelta(minutes=m)

    schema = "uid long, ts timestamp, value double"
    batches = [
        [(9, ts(50_000), 1.0)],        # watermark races ahead (~day 34)
        # uid 1's first row has an event time BELOW the watermark (unsorted
        # replay: the file source hands batches in file order, not time
        # order) — its ts + ttl (5 min) is a month behind the watermark,
        # so the state write is expired-on-arrival
        [(1, ts(0), 10.0)],
        [(1, ts(50_001), 20.0)],       # uid 1 re-arrives after expiry
    ]
    d = _write_batches(spark, batches, schema)
    sdf = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(d)
        .withWatermark("ts", "1 minute")
    )
    out = streaming_dedup(sdf, ["uid"], "ts", ["value"], keep="first",
                          ttl_seconds=300)
    rows = _collect_stream(spark, out)
    u1 = rows[rows["uid"] == 1].sort_values("value")
    # first arrival emits; the expired-on-write entry is invisible at the
    # next batch, so the re-arrival emits as new — and nothing crashed
    assert list(u1["value"]) == [10.0, 20.0]


def test_streaming_over_full_aggregate_set(spark):
    """r12: the streaming OVER operators take the reference's full
    declarative aggregate list (RowTimeRangeBoundedPrecedingFunction's
    pluggable AggsHandleFunctions; Min/MaxWithRetractAggFunction) —
    sum/count/avg/min/max/first_value/last_value across all three frames,
    multi-batch replay equal to Spark's own batch window functions."""
    import datetime as dtm

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from flink_parent_spark.streaming.stateful import streaming_over

    T = dtm.datetime(2024, 1, 1)
    rows = [
        # (minute, user, event_id, value) — two keys, out-of-order arrival,
        # a duplicate timestamp (peer pair: eids 4,5), values that make
        # min/max move non-monotonically inside bounded frames
        (0, 1, 0, 5.0), (10, 1, 1, 2.0), (20, 1, 2, 9.0),
        (30, 1, 3, 1.0), (40, 1, 4, 7.0), (40, 1, 5, 3.0),
        (50, 1, 6, 4.0),
        (0, 2, 7, 6.0), (25, 2, 8, 0.5), (55, 2, 9, 8.0),
    ]
    def mk(idxs):
        return [
            (T + dtm.timedelta(minutes=rows[i][0]), *rows[i][1:]) for i in idxs
        ]

    # per-key event times are ordered across batches (user1: ≤20 | ≤40 | 50;
    # user2: 0 | 25 | 55) so arrival stays within the 30-minute watermark
    # delay for the RANGE frame and is in-order for the frames without one
    batches = [
        mk([0, 1, 2, 7]),
        mk([3, 4, 5, 8]),
        mk([6, 9]) + [(T + dtm.timedelta(minutes=600), 9, 99, 0.0)],  # advancer
    ]
    schema = "ts timestamp, user_id long, event_id long, value double"
    d = _write_batches(spark, batches, schema)
    aggs = [
        ("sum", "a_sum"), ("count", "a_cnt"), ("avg", "a_avg"),
        ("min", "a_min"), ("max", "a_max"),
        ("first_value", "a_first"), ("last_value", "a_last"),
    ]
    batch_df = spark.createDataFrame(
        [(T + dtm.timedelta(minutes=m), u, e, v) for m, u, e, v in rows], schema
    )

    def batch_expect(w):
        return {
            int(r["event_id"]): (
                r["a_sum"], int(r["a_cnt"]), r["a_avg"], r["a_min"],
                r["a_max"], r["a_first"], r["a_last"],
            )
            for r in batch_df.select(
                "event_id",
                F.sum("value").over(w).alias("a_sum"),
                F.count("value").over(w).alias("a_cnt"),
                F.avg("value").over(w).alias("a_avg"),
                F.min("value").over(w).alias("a_min"),
                F.max("value").over(w).alias("a_max"),
                F.first("value").over(w).alias("a_first"),
                F.last("value").over(w).alias("a_last"),
            ).collect()
        }

    def got_map(out_df):
        return {
            int(r["event_id"]): (
                r["a_sum"], int(r["a_cnt"]), r["a_avg"], r["a_min"],
                r["a_max"], r["a_first"], r["a_last"],
            )
            for r in run_stream_to_df(out_df, "append").collect()
            if r["user_id"] != 9
        }

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )

    # --- ROWS UNBOUNDED PRECEDING (running) ---
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = got_map(
        streaming_over(
            stream(), ["user_id"], "ts", "value", ("rows", None), aggs,
            ["event_id"], tiebreak_col="event_id",
        )
    )
    exp = {k: v for k, v in batch_expect(w).items() if k != 99}
    assert got == exp

    # --- ROWS n PRECEDING ---
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    got = got_map(
        streaming_over(
            stream(), ["user_id"], "ts", "value", ("rows", 3), aggs,
            ["event_id"], tiebreak_col="event_id",
        )
    )
    exp = {k: v for k, v in batch_expect(w).items() if k != 99}
    assert got == exp

    # --- RANGE INTERVAL PRECEDING (watermark-held) ---
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-1800, Window.currentRow)
    )
    got = got_map(
        streaming_over(
            stream().withWatermark("ts", "30 minutes"),
            ["user_id"], "ts", "value", ("range", 1800), aggs, ["event_id"],
            tiebreak_col="event_id",
        )
    )
    exp = {k: v for k, v in batch_expect(w).items() if k != 99}
    # the advancer (minute 600) seals everything except itself
    assert got == exp


def test_streaming_over_var_distinct_lag_vs_duckdb(spark):
    """r12+: the rest of the reference's declarative aggregate set in the
    streaming OVER operators — VAR_POP/VAR_SAMP/STDDEV_POP/STDDEV_SAMP
    (the planner's sum/sum² variance rewrite), COUNT(DISTINCT)
    (DistinctAccumulator parity) and LAG (LeadLagAggFunction) — across
    all three frames with multi-batch replay, value-exact vs a DuckDB
    window oracle that mirrors the engine's decimal-exact sum/sum² split
    and fixed double op order. NULL surfaces (sample variance of one row,
    LAG before the partition start) must be true NULLs, not NaN."""
    import datetime as dtm

    import duckdb
    import pandas as pd

    from flink_parent_spark.streaming.stateful import streaming_over

    T = dtm.datetime(2024, 1, 1)
    rows = [
        # duplicate values inside a frame (distinct_count < count), a peer
        # pair (eids 4,5), and a single-row frame start per key (NULL
        # var_samp / lag)
        (0, 1, 0, 5.0), (10, 1, 1, 2.0), (20, 1, 2, 5.0),
        (30, 1, 3, 1.0), (40, 1, 4, 7.0), (40, 1, 5, 2.0),
        (50, 1, 6, 4.0),
        (0, 2, 7, 6.0), (25, 2, 8, 0.5), (55, 2, 9, 8.0),
    ]

    def mk(idxs):
        return [
            (T + dtm.timedelta(minutes=rows[i][0]), *rows[i][1:]) for i in idxs
        ]

    batches = [
        mk([0, 1, 2, 7]),
        mk([3, 4, 5, 8]),
        mk([6, 9]) + [(T + dtm.timedelta(minutes=600), 9, 99, 0.0)],  # advancer
    ]
    schema = "ts timestamp, user_id long, event_id long, value double"
    d = _write_batches(spark, batches, schema)
    aggs = [
        ("var_pop", "a_vp"), ("var_samp", "a_vs"),
        ("stddev_pop", "a_sp"), ("stddev_samp", "a_ss"),
        ("distinct_count", "a_dc"), ("lag", "a_lg"),
    ]

    con = duckdb.connect()
    con.register(
        "ev",
        pd.DataFrame(
            [(T + dtm.timedelta(minutes=m), u, e, v) for m, u, e, v in rows],
            columns=["ts", "user_id", "event_id", "value"],
        ),
    )
    _SX = "CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS STRING) AS DOUBLE)"
    _SX2 = (
        "CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * "
        "CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,12))) OVER w AS STRING)"
        " AS DOUBLE)"
    )
    _N = "CAST(COUNT(value) OVER w AS DOUBLE)"
    _VP = f"(({_SX2}) - ({_SX})*({_SX})/({_N})) / ({_N})"
    _VS = f"(({_SX2}) - ({_SX})*({_SX})/({_N})) / (({_N}) - 1)"

    def oracle(order):
        q = f"""
        SELECT event_id,
               {_VP} AS a_vp,
               CASE WHEN {_N} < 2 THEN NULL ELSE {_VS} END AS a_vs,
               SQRT(GREATEST({_VP}, 0)) AS a_sp,
               CASE WHEN {_N} < 2 THEN NULL
                    ELSE SQRT(GREATEST({_VS}, 0)) END AS a_ss,
               COUNT(DISTINCT CAST(value AS DECIMAL(30,6))) OVER w AS a_dc,
               CAST(CAST(LAG(value) OVER wl AS DECIMAL(30,6)) AS DOUBLE) AS a_lg
        FROM ev
        WINDOW w AS (PARTITION BY user_id {order}),
               wl AS (PARTITION BY user_id ORDER BY ts, event_id)
        """
        return {int(r[0]): tuple(r[1:]) for r in con.sql(q).fetchall()}

    def got(out_df):
        return {
            int(r["event_id"]): (
                r["a_vp"], r["a_vs"], r["a_sp"], r["a_ss"],
                int(r["a_dc"]), r["a_lg"],
            )
            for r in run_stream_to_df(out_df, "append").collect()
            if r["user_id"] != 9
        }

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )

    assert got(
        streaming_over(
            stream(), ["user_id"], "ts", "value", ("rows", None), aggs,
            ["event_id"], tiebreak_col="event_id",
        )
    ) == oracle("ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING")

    assert got(
        streaming_over(
            stream(), ["user_id"], "ts", "value", ("rows", 3), aggs,
            ["event_id"], tiebreak_col="event_id",
        )
    ) == oracle("ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW")

    assert got(
        streaming_over(
            stream().withWatermark("ts", "30 minutes"),
            ["user_id"], "ts", "value", ("range", 1800), aggs, ["event_id"],
            tiebreak_col="event_id",
        )
    ) == oracle(
        "ORDER BY ts RANGE BETWEEN INTERVAL '30' MINUTE PRECEDING AND CURRENT ROW"
    )

    # --- RANGE UNBOUNDED PRECEDING (SQL's default ORDER BY frame; peers
    # share one result — the 4th cell of the rows/range×bounded/unbounded
    # matrix, RowTimeRangeUnboundedPrecedingFunction parity) ---
    assert got(
        streaming_over(
            stream().withWatermark("ts", "30 minutes"),
            ["user_id"], "ts", "value", ("range", None), aggs, ["event_id"],
            tiebreak_col="event_id",
        )
    ) == oracle(
        "ORDER BY ts RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )

    # base aggregates over the same frame (sum/count/avg/min/max — peer
    # groups must share the post-peer-ingest value)
    base = [
        ("sum", "b_sum"), ("count", "b_cnt"), ("avg", "b_avg"),
        ("min", "b_min"), ("max", "b_max"),
    ]
    got_base = {
        int(r["event_id"]): (
            r["b_sum"], int(r["b_cnt"]), r["b_avg"], r["b_min"], r["b_max"]
        )
        for r in run_stream_to_df(
            streaming_over(
                stream().withWatermark("ts", "30 minutes"),
                ["user_id"], "ts", "value", ("range", None), base,
                ["event_id"], tiebreak_col="event_id",
            ),
            "append",
        ).collect()
        if r["user_id"] != 9
    }
    exp_base = {
        int(r[0]): tuple(r[1:])
        for r in con.sql("""
        SELECT event_id,
               CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS STRING)
                 AS DOUBLE) AS b_sum,
               COUNT(*) OVER w AS b_cnt,
               CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS STRING)
                 AS DOUBLE) / COUNT(value) OVER w AS b_avg,
               CAST(MIN(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS b_min,
               CAST(MAX(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS b_max
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """).fetchall()
    }
    assert got_base == exp_base


def test_restart_recovers_over_var_distinct_lag_state(spark):
    """Restart-from-checkpoint for the r12+ OVER accumulators: the
    string-persisted sum of squares, the distinct-value set, and the
    LAG prev row must all round-trip state recovery — post-restart rows
    compute variance over the full history, dedupe distinct values
    against the recovered set, and LAG the pre-crash row. Interrupted
    output must equal the uninterrupted run row-for-row."""
    import datetime as dtm
    import uuid as _uuid

    import pandas as pd

    from flink_parent_spark.streaming.stateful import streaming_over

    t0 = dtm.datetime(2024, 5, 1)
    tag = _uuid.uuid4().hex[:8]
    schema = "ts timestamp, user_id long, event_id long, value double"
    d = tempfile.mkdtemp(prefix=f"fps_ckpt_ov_{tag}_")
    _add_batch_file(
        spark, d, 0,
        [(t0, 1, 0, 5.0), (t0 + dtm.timedelta(minutes=1), 1, 1, 2.0)],
        schema,
    )

    def build(sdf):
        return streaming_over(
            sdf, ["user_id"], "ts", "value", ("rows", None),
            [
                ("var_pop", "vp"), ("stddev_samp", "ss"),
                ("distinct_count", "dc"), ("lag", "lg"), ("sum", "sm"),
            ],
            ["event_id"],
            tiebreak_col="event_id",
        )

    ckpt = os.path.join(tempfile.gettempdir(), f"fps_ckpt_ov_{tag}")
    part1 = _drain(spark, d, schema, build, ckpt, mode="append")
    # while down: a DUPLICATE value (5.0 — distinct set must recall it)
    # and a fresh one; the first post-restart LAG must be the pre-crash 2.0
    _add_batch_file(
        spark, d, 1,
        [(t0 + dtm.timedelta(minutes=2), 1, 2, 5.0),
         (t0 + dtm.timedelta(minutes=3), 1, 3, 7.0)],
        schema,
    )
    part2 = _drain(spark, d, schema, build, ckpt, mode="append")
    uninterrupted = _drain(
        spark, d, schema, build,
        os.path.join(tempfile.gettempdir(), f"fps_ckpt_ov_ref_{tag}"),
        mode="append",
    )
    cols = ["event_id", "vp", "ss", "dc", "lg", "sm"]
    got = (
        pd.concat([part1, part2])[cols]
        .sort_values("event_id").reset_index(drop=True)
    )
    exp = uninterrupted[cols].sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)
    by_id = {int(r.event_id): r for r in got.itertuples()}
    assert by_id[2].lg == 2.0          # recovered prev row
    assert by_id[2].dc == 2            # 5.0 recalled from the recovered set
    assert by_id[3].dc == 3
    assert by_id[3].sm == 19.0         # recovered sum accumulator
    assert part2["event_id"].min() == 2  # batch-0 rows not re-emitted


def test_restart_recovers_over_range_held_state(spark):
    """Restart-from-checkpoint for the watermark-held RANGE-bounded OVER
    frame, stopped while rows are still held: the held rows (`pend`), the
    live frame buffer (`buf`) and the fired frontier must all round-trip
    state recovery. Held pre-crash rows fire after the restart against
    the recovered frame, a post-restart out-of-order row (within the
    delay) slots in by event time, and a row behind the watermark is
    dropped — interrupted output equals the uninterrupted run and the
    batch RANGE window."""
    import datetime as dtm
    import uuid as _uuid

    import pandas as pd

    from flink_parent_spark.streaming.stateful import streaming_over

    t0 = dtm.datetime(2024, 5, 1)
    tag = _uuid.uuid4().hex[:8]
    schema = "ts timestamp, user_id long, event_id long, value double"
    d = tempfile.mkdtemp(prefix=f"fps_ckpt_ovr_{tag}_")

    def ev(minute, user, eid, v):
        return (t0 + dtm.timedelta(minutes=minute), user, eid, float(v))

    # batch 0 moves the watermark (30-minute delay) to minute 30; batch 1
    # fires up to it and then to minute 60, leaving minutes 70 (user 1)
    # and 90 (user 2) held when the query stops
    _add_batch_file(
        spark, d, 0,
        [ev(0, 1, 0, 1), ev(10, 1, 1, 2), ev(20, 1, 2, 4), ev(60, 1, 3, 8),
         ev(5, 2, 4, 10)],
        schema,
    )
    _add_batch_file(
        spark, d, 1,
        [ev(40, 1, 5, 16), ev(70, 1, 6, 32), ev(50, 2, 7, 20),
         ev(90, 2, 8, 1.5)],
        schema,
    )

    def build(sdf):
        return streaming_over(
            sdf.withWatermark("ts", "30 minutes"),
            ["user_id"], "ts", "value", ("range", 1800),
            [("sum", "sm"), ("count", "cnt"), ("min", "mn"), ("max", "mx")],
            ["event_id"],
            tiebreak_col="event_id",
        )

    ckpt = os.path.join(tempfile.gettempdir(), f"fps_ckpt_ovr_{tag}")
    part1 = _drain(spark, d, schema, build, ckpt, mode="append")
    # while down: an out-of-order row (65 < held 70, past the frontier), a
    # late row behind the fired frontier (15), fresh rows, and an advancer
    # (user 9) that seals everything else
    _add_batch_file(
        spark, d, 2,
        [ev(65, 1, 9, 64), ev(15, 1, 12, 100), ev(130, 1, 10, 0.25),
         ev(100, 2, 11, 3), ev(600, 9, 99, 0)],
        schema,
    )
    part2 = _drain(spark, d, schema, build, ckpt, mode="append")
    uninterrupted = _drain(
        spark, d, schema, build,
        os.path.join(tempfile.gettempdir(), f"fps_ckpt_ovr_ref_{tag}"),
        mode="append",
    )
    cols = ["event_id", "sm", "cnt", "mn", "mx"]
    got = (
        pd.concat([part1, part2])[cols]
        .sort_values("event_id").reset_index(drop=True)
    )
    exp = uninterrupted[cols].sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)
    # the rows held at the stop fire after the restart, exactly once
    assert {6, 8} <= set(part2["event_id"])
    assert not set(part1["event_id"]) & set(part2["event_id"])
    # trailing 30-minute frames, boundary inclusive; event 12 is late
    assert {
        int(r.event_id): (r.sm, int(r.cnt), r.mn, r.mx)
        for r in got.itertuples()
    } == {
        0: (1.0, 1, 1.0, 1.0),
        1: (3.0, 2, 1.0, 2.0),
        2: (7.0, 3, 1.0, 4.0),
        5: (22.0, 3, 2.0, 16.0),
        3: (24.0, 2, 8.0, 16.0),
        9: (88.0, 3, 8.0, 64.0),
        6: (120.0, 4, 8.0, 64.0),
        10: (0.25, 1, 0.25, 0.25),
        4: (10.0, 1, 10.0, 10.0),
        7: (20.0, 1, 20.0, 20.0),
        8: (1.5, 1, 1.5, 1.5),
        11: (4.5, 2, 1.5, 3.0),
    }


def test_restart_recovers_match_recognize_prev_context(spark):
    """Restart-from-checkpoint for the streaming MATCH_RECOGNIZE PREV
    navigation context: rows consumed by a pre-crash match are retained
    in state as PREV context (the ctx column), so a post-restart row's
    PREV(value) must see the real pre-crash row, not NULL — interrupted
    equals uninterrupted."""
    import datetime as dtm
    import uuid as _uuid

    import pandas as pd

    from flink_parent_spark.streaming.match_recognize_sql import (
        match_recognize_sql,
    )

    t0 = dtm.datetime(2024, 5, 1)
    tag = _uuid.uuid4().hex[:8]
    schema = "ts timestamp, user_id long, event_id long, value double"
    d = tempfile.mkdtemp(prefix=f"fps_ckpt_mrp_{tag}_")

    def m(minutes):
        return t0 + dtm.timedelta(minutes=minutes)

    _add_batch_file(
        spark, d, 0, [(m(1), 1, 0, 10.0), (m(2), 1, 1, 20.0)], schema
    )
    _add_batch_file(spark, d, 1, [(m(30), 9, 98, 0.0)], schema)  # advancer

    clause = """
      PARTITION BY user_id
      ORDER BY ts
      PATTERN (B)
      DEFINE B AS B.value > PREV(B.value)
    """

    def build(sdf):
        return match_recognize_sql(
            sdf.withWatermark("ts", "0 seconds"), clause, "event_id",
            streaming=True,
        )

    ckpt = os.path.join(tempfile.gettempdir(), f"fps_ckpt_mrp_{tag}")
    part1 = _drain(spark, d, schema, build, ckpt)  # match at e1, then crash
    # while down: e2 rises vs e1 — a row the pre-crash match CONSUMED;
    # only the recovered ctx row lets PREV see 20.0
    _add_batch_file(spark, d, 2, [(m(31), 1, 2, 25.0)], schema)
    _add_batch_file(spark, d, 3, [(m(60), 9, 99, 0.0)], schema)  # advancer
    part2 = _drain(spark, d, schema, build, ckpt)
    uninterrupted = _drain(
        spark, d, schema, build,
        os.path.join(tempfile.gettempdir(), f"fps_ckpt_mrp_ref_{tag}"),
    )
    key = ["user_id", "event_id", "match_id"]

    def matched(df):
        return sorted(
            tuple(int(x) for x in r)
            for r in df[df["user_id"] != 9][key].values.tolist()
        )

    got = matched(pd.concat([part1, part2]))
    assert got == matched(uninterrupted) == [(1, 1, 0), (1, 2, 1)]
    assert matched(part2) == [(1, 2, 1)]  # e1's match not re-emitted


def test_micros_double_correctly_rounded_past_2_53():
    """Regression for the seed-41 sf0.1 hunt find: an integer-micros
    accumulator past 2^53 emitted via `n / 1e6` rounds TWICE (int ->
    float, then the division) and drifts 1 ulp from the oracle's
    decimal->STRING->double route. _micros_double must be correctly
    rounded at any magnitude — identical to strtod of the exact decimal
    string — and exact (one rounding) below 2^53."""
    from flink_parent_spark.streaming.stateful import _micros_double

    # fast path: below 2^53 both routes agree
    for n in (0, 1, -1, 123456789, -987654321012345, 2**53, -(2**53)):
        assert _micros_double(n) == float(
            f"{'-' if n < 0 else ''}{abs(n) // 10**6}.{abs(n) % 10**6:06d}"
        )
    # slow path: values where the double-rounding route demonstrably
    # drifts — sum-of-squares magnitudes from the sf0.1 hunt
    drifted = 0
    for n in (
        2**53 * 10**6 + 1,
        123456789012345678901234567,
        # vectors where `n / 1e12` demonstrably drifts 1 ulp from strtod
        67384705125654713280270,
        1008600457517274552420902,
        488559559527700652426447,
    ):
        exact = float(f"{n // 10**12}.{n % 10**12:012d}")
        assert _micros_double(n, 12) == exact
        if n / 1e12 != exact:
            drifted += 1
    assert drifted >= 3, "test vectors must include real double-rounding cases"


@pytest.mark.parametrize("offset", [1, 2])
def test_streaming_match_recognize_prev_across_gc_boundary(spark, offset):
    """r12+: PREV() in DEFINE now runs in streaming MATCH_RECOGNIZE (the
    last documented batch-only restriction). PREV is PHYSICAL partition
    navigation (Calcite/Flink: it can reach rows BEHIND the match), so
    the watermark-held operator must retain max-offset consumed rows as
    navigation context past its GC frontier — a single-row pattern
    B AS B.value > PREV(B.value[, n]) consumes each matched row
    immediately, forcing the next row's PREV to cross both the GC
    boundary and a micro-batch boundary. Streaming replay must equal the
    batch deployment, whose PREV goes the independent Catalyst-LAG
    route."""
    import datetime as dtm

    from flink_parent_spark.streaming.match_recognize_sql import (
        match_recognize_sql,
    )

    T = dtm.datetime(2024, 1, 1)
    # values chosen so each comparison outcome differs between "PREV sees
    # the real consumed row" and "PREV sees NULL" (NULL => false => a
    # missed match): with offset=1, e1 (20>10), e2 (25>20, reaches the
    # row consumed by e1's match one batch earlier), e4 (30>5) match;
    # e0/e3 don't. With offset=2 the reach is two rows back.
    rows = [
        (1, 0, 10.0), (2, 1, 20.0),     # batch 0
        (3, 2, 25.0), (4, 3, 5.0),      # batch 1
        (5, 4, 30.0),                   # batch 2
    ]

    def ev(m, e, v, u=1):
        return (T + dtm.timedelta(minutes=m), u, e, v)

    batches = [
        [ev(*rows[0]), ev(*rows[1])],
        [ev(*rows[2]), ev(*rows[3])],
        [ev(*rows[4])],
        [ev(60, 98, 0.0, u=9)],   # watermark advancers (user 9)
        [ev(120, 99, 0.0, u=9)],
    ]
    schema = "ts timestamp, user_id long, event_id long, value double"
    d = _write_batches(spark, batches, schema)

    clause = f"""
      PARTITION BY user_id
      ORDER BY ts
      PATTERN (B)
      DEFINE B AS B.value > PREV(B.value, {offset})
    """

    batch_df = spark.createDataFrame(
        [ev(*r) for r in rows] + [ev(60, 98, 0.0, 9), ev(120, 99, 0.0, 9)],
        schema,
    )
    expected = {
        (r["user_id"], r["event_id"], r["match_id"])
        for r in match_recognize_sql(batch_df, clause, "event_id").collect()
        if r["user_id"] != 9
    }
    assert expected, "test data must produce at least one match"

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withWatermark("ts", "0 seconds")
    )
    got = {
        (r["user_id"], r["event_id"], r["match_id"])
        for r in run_stream_to_df(
            match_recognize_sql(sdf, clause, "event_id", streaming=True),
            "update",
        ).collect()
        if r["user_id"] != 9
    }
    assert got == expected


def test_retract_topn_pending_retraction_across_batches(spark):
    """r12 regression (found by the sf0.1 scale-stress hunt, seed 34): a
    file-replayed changelog can deliver a -U a whole batch BEFORE its
    matching +U; the unmatched retraction must be held pending and
    annihilate the accumulate on arrival — not silently dropped, which
    left the superseded row ranked forever (duplicate keys in the top-N
    with stale values)."""
    from flink_parent_spark.streaming.stateful import streaming_retract_top_n

    schema = (
        "g string, user_id long, total double, __rowkind string, __seq long"
    )
    # causal history for user 1: +I(10) seq0; -U(10)/+U(30) seq1/2.
    # delivery scrambles ACROSS batches: the retraction of 10 and the
    # insert of 30 arrive one batch before +I(10).
    batches = [
        [("g", 1, 10.0, "-U", 1), ("g", 1, 30.0, "+U", 2),
         ("g", 2, 20.0, "+I", 0)],
        [("g", 1, 10.0, "+I", 0)],
    ]
    d = _write_batches(spark, batches, schema)
    cl = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    tn = streaming_retract_top_n(
        cl, ["g"], "total", 3, ["user_id"],
        descending=True, tiebreak_col="user_id", sequence_col="__seq",
    )
    got = run_stream_to_df(tn, "update").toPandas()
    # final batch's emission: user 1 exactly once, at its LATEST value
    last = got[got["user_id"] == 1]
    assert list(last["total"].unique()) == [30.0]
    final_ranks = {
        int(r.user_id): (r.total, int(r.rank))
        for r in got.itertuples()
        if r.rank in (1, 2)
    }
    assert final_ranks == {1: (30.0, 1), 2: (20.0, 2)}


def test_retract_join_pending_retraction_across_batches(spark):
    """r12 regression, join half: an early-delivered right-side -U must
    annihilate its later +U instead of being dropped (which kept TWO
    live right rows and emitted the superseded join result forever)."""
    from flink_parent_spark.streaming.changelog import retract_join

    lschema = "k long, total double, __rowkind string, __ord long"
    rschema = "k long, v double, __rowkind string, __ord long"
    ldir = _write_batches(
        spark, [[(1, 100.0, "+I", 0)]], lschema
    )
    # right history: +I(5) ord0; -U(5)/+U(7) ord1 — delivered scrambled:
    # the -U(5) and +U(7) land a batch before +I(5)
    rdir = _write_batches(
        spark,
        [[(1, 5.0, "-U", 1), (1, 7.0, "+U", 1)], [(1, 5.0, "+I", 0)]],
        rschema,
    )
    lcl = spark.readStream.schema(lschema).option("maxFilesPerTrigger", 1).parquet(ldir)
    rcl = spark.readStream.schema(rschema).option("maxFilesPerTrigger", 1).parquet(rdir)
    joined = retract_join(
        lcl, rcl, ["k"], ["total"], ["v"], "__ord", seq_col="__seq"
    )
    out = run_stream_to_df(joined, "update").toPandas()
    # net changelog: exactly one live row, (100.0, 7.0) — the +I(5) must
    # NOT survive as a second live right row
    net: dict[tuple, int] = {}
    for r in out.sort_values("__seq").to_dict("records"):
        sgn = 1 if r["__rowkind"] in ("+I", "+U") else -1
        key = (r["k"], r["total"], r["v"])
        net[key] = net.get(key, 0) + sgn
    live = {k for k, c in net.items() if c > 0}
    assert live == {(1, 100.0, 7.0)}


def test_restart_recovers_pending_retraction_state(spark):
    """r12: the pending-retraction multiset must survive a STOP/RESTART
    from checkpoint, not just micro-batch boundaries — a -U consumed
    before the crash whose matching +U only arrives after the restart
    must still annihilate it from recovered state (otherwise the stale
    row resurfaces in the ranking after recovery)."""
    import uuid as _uuid

    from flink_parent_spark.streaming.stateful import streaming_retract_top_n

    tag = _uuid.uuid4().hex[:8]
    cl_schema = "grp string, x long, __rowkind string, seq long"
    d = tempfile.mkdtemp(prefix=f"fps_ckpt_pend_{tag}_")
    # before the crash: the retraction of x=9 arrives AHEAD of its +U
    # (cross-batch file scramble), plus a live row x=5
    _add_batch_file(
        spark, d, 0,
        [("g", 5, "+I", 0), ("g", 9, "-U", 3)], cl_schema,
    )

    def build(sdf):
        return streaming_retract_top_n(
            sdf, ["grp"], "x", 1, [], sequence_col="seq", tiebreak_col="x"
        )

    ckpt = os.path.join(tempfile.gettempdir(), f"fps_ckpt_pend_{tag}")
    p1 = _drain(spark, d, cl_schema, build, ckpt)
    assert list(p1["x"]) == [5]  # the pending -U(9) must not rank
    # while down: the late +U(9) arrives — recovered pending state must
    # annihilate it; then x=7 becomes the true leader's challenger
    _add_batch_file(
        spark, d, 1, [("g", 9, "+U", 2), ("g", 7, "+I", 4)], cl_schema
    )
    p2 = _drain(spark, d, cl_schema, build, ckpt)
    # top-1 after restart: 7 (9 annihilated, 5 displaced)
    assert list(p2["x"]) == [7]
    ref = _drain(
        spark, d, cl_schema, build,
        os.path.join(tempfile.gettempdir(), f"fps_ckpt_pend_ref_{tag}"),
    )
    assert list(ref["x"]) == [5, 7]
