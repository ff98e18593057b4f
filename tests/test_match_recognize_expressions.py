"""MATCH_RECOGNIZE expression depth: aggregates in MEASURES/DEFINE, logical
offsets in FIRST/LAST, and UDFs — each test pins the reference's own ITCase
dataset and expected output VERBATIM (flink-table-planner-blink
.../stream/sql/MatchRecognizeITCase.scala — testLogicalOffsets:372,
testLogicalOffsetsWithStarVariable:467, testLogicalOffsetOutsideOfRange
InMeasures:527, testAggregates:578, testAggregatesWithNullInputs:640,
testUserDefinedFunctions:733), so the engine's semantics are checked
against the reference's adjudicated answers, not our own oracle."""

from __future__ import annotations

import datetime as dtm

import pandas as pd
import pytest

from flink_parent_spark.streaming.match_recognize_sql import (
    match_recognize_sql,
)


def _ts(i: int) -> dtm.datetime:
    return dtm.datetime(2024, 1, 1, 0, 0, 0) + dtm.timedelta(seconds=int(i))


def _ticker(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_logical_offsets(spark):
    """MatchRecognizeITCase.testLogicalOffsets: DOWN{2,} UP with
    LAST(DOWN.price, 1) self-navigation in DEFINE (current row counts as
    DOWN's last row) and expression navigation in MEASURES. Expected
    single match (6,7,8,33,33) — also pins POSSESSIVE greedy: the
    shortened run DOWN=[19,17], UP=13 must NOT match."""
    data = [
        ("ACME", 1, 19, 1), ("ACME", 2, 17, 2), ("ACME", 3, 13, 3),
        ("ACME", 4, 20, 4), ("ACME", 5, 20, 5), ("ACME", 6, 26, 6),
        ("ACME", 7, 20, 7), ("ACME", 8, 25, 8),
    ]
    df = _ticker(
        spark,
        [(s, t, _ts(t), p, x) for s, t, p, x in data],
        "symbol string, tstamp long, ts timestamp, price long, tax long",
    )
    clause = """
      PARTITION BY symbol
      ORDER BY ts
      MEASURES
        FIRST(DOWN.tstamp) AS start_tstamp,
        LAST(DOWN.tstamp) AS bottom_tstamp,
        UP.tstamp AS end_tstamp,
        FIRST(DOWN.price + DOWN.tax + 1) AS bottom_total,
        UP.price + UP.tax AS end_total
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (DOWN{2,} UP)
      DEFINE
        DOWN AS price < LAST(DOWN.price, 1) OR LAST(DOWN.price, 1) IS NULL,
        UP AS price < FIRST(DOWN.price)
    """
    out = match_recognize_sql(df, clause, "tstamp").toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (
        r["start_tstamp"], r["bottom_tstamp"], r["end_tstamp"],
        r["bottom_total"], r["end_total"],
    ) == (6, 7, 8, 33, 33)


def test_logical_offsets_star_variable(spark):
    """testLogicalOffsetsWithStarVariable: unqualified FIRST/LAST navigate
    the UNIVERSAL variable (all matched rows) with offsets 0..7."""
    data = [
        (1, 20), (2, 19), (3, 18), (4, 17), (5, 16), (6, 15), (7, 14), (8, 20),
    ]
    df = _ticker(
        spark,
        [(i, "ACME", i, _ts(i), p) for i, p in data],
        "id long, symbol string, tstamp long, ts timestamp, price long",
    )
    measures = ",\n".join(
        [f"FIRST(id, {k}) AS f{k}" for k in range(8)]
        + [f"LAST(id, {k}) AS l{k}" for k in range(8)]
    )
    clause = f"""
      PARTITION BY symbol
      ORDER BY ts
      MEASURES {measures}
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (DOWN{{2,}} UP)
      DEFINE
        DOWN AS price < LAST(price, 1) OR LAST(price, 1) IS NULL,
        UP AS price = FIRST(price) AND price > FIRST(price, 3)
              AND price = LAST(price, 7)
    """
    out = match_recognize_sql(df, clause, "tstamp").toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert [r[f"f{k}"] for k in range(8)] == [1, 2, 3, 4, 5, 6, 7, 8]
    assert [r[f"l{k}"] for k in range(8)] == [8, 7, 6, 5, 4, 3, 2, 1]


def test_logical_offset_outside_range_in_measures(spark):
    """testLogicalOffsetOutsideOfRangeInMeasures: FIRST(DOWN.price, 5) past
    the matched run yields NULL."""
    data = [("ACME", 1, 19, 1), ("ACME", 2, 17, 2), ("ACME", 3, 13, 3),
            ("ACME", 4, 20, 4)]
    df = _ticker(
        spark,
        [(s, t, _ts(t), p, x) for s, t, p, x in data],
        "symbol string, tstamp long, ts timestamp, price long, tax long",
    )
    clause = """
      PARTITION BY symbol
      ORDER BY ts
      MEASURES
        FIRST(DOWN.price) AS first_p,
        LAST(DOWN.price) AS last_p,
        FIRST(DOWN.price, 5) AS null_price
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (DOWN{2,} UP)
      DEFINE
        DOWN AS price < LAST(DOWN.price, 1) OR LAST(DOWN.price, 1) IS NULL,
        UP AS price > LAST(DOWN.price)
    """
    out = match_recognize_sql(df, clause, "tstamp").toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r["first_p"], r["last_p"]) == (19, 13)
    assert pd.isna(r["null_price"])


def test_aggregates(spark):
    """testAggregates: running SUM in DEFINE (includes the row under
    test), SUM over an expression, AVG (integral division), COUNT/SUM of
    an unmatched optional variable (0 / NULL), a multi-argument UDAF over
    the universal variable — and the non-greedy optional D? whose empty
    branch completes first."""
    data = [
        (1, "a", 1, 0.8, 1), (2, "z", 2, 0.8, 3), (3, "b", 1, 0.8, 2),
        (4, "c", 1, 0.8, 5), (5, "d", 4, 0.1, 5), (6, "a", 2, 1.5, 2),
        (7, "b", 2, 0.8, 3), (8, "c", 1, 0.8, 2), (9, "h", 4, 0.8, 3),
        (10, "h", 4, 0.8, 3), (11, "h", 2, 0.8, 3), (12, "h", 2, 0.8, 3),
    ]
    df = _ticker(
        spark,
        [(i, n, p, r, w, _ts(i)) for i, n, p, r, w in data],
        "id long, name string, price long, rate double, weight long, "
        "ts timestamp",
    )
    clause = """
      PARTITION BY name_all
      ORDER BY ts
      MEASURES
        FIRST(id) AS startId,
        SUM(A.price) AS sumA,
        COUNT(D.price) AS countD,
        SUM(D.price) AS sumD,
        weightedAvg(price, weight) AS wAvg,
        AVG(B.price) AS avgB,
        SUM(B.price * B.rate) AS sumExprB,
        LAST(id) AS endId
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A+ B+ C D? E)
      DEFINE
        A AS SUM(A.price) < 6,
        B AS SUM(B.price * B.rate) < SUM(A.price) AND
             SUM(B.price * B.rate) > 0.2 AND
             SUM(B.price) >= 1 AND
             AVG(B.price) >= 1 AND
             weightedAvg(price, weight) > 1
    """
    # WeightedAvg UDAF (Java long division truncates); defined inline so
    # cloudpickle serializes it by value, not by test-module reference
    def weighted_avg(rows):
        num = sum(p * w for p, w in rows)
        den = sum(w for _, w in rows)
        return num // den if den else None

    udfs = {"weightedAvg": ("agg", weighted_avg, "bigint")}
    out = (
        match_recognize_sql(
            df.withColumn("name_all", df.id * 0), clause, "id", udfs=udfs
        )
        .toPandas()
        .sort_values("startId")
        .reset_index(drop=True)
    )
    assert len(out) == 2
    got = [
        (
            r["startId"], r["sumA"], r["countD"],
            None if pd.isna(r["sumD"]) else r["sumD"],
            r["wAvg"], r["avgB"], r["sumExprB"], r["endId"],
        )
        for _, r in out.iterrows()
    ]
    assert got[0] == (1, 5, 0, None, 2, 3, 3.4, 8)
    assert got[1] == (9, 4, 0, None, 3, 4, 3.2, 12)


def test_aggregates_with_null_inputs(spark):
    """testAggregatesWithNullInputs: NULL values are ignored by SUM, not
    counted by COUNT(col), counted by COUNT(*)/COUNT(V.*)."""
    data = [
        (1, "a", 10), (2, "z", 10), (3, "b", None), (4, "c", None),
        (5, "d", 3), (6, "c", 3), (7, "c", 3), (8, "c", 3), (9, "c", 2),
    ]
    df = _ticker(
        spark,
        [(i, n, p, _ts(i)) for i, n, p in data],
        "id long, name string, price long, ts timestamp",
    )
    clause = """
      PARTITION BY grp
      ORDER BY ts
      MEASURES
        SUM(A.price) AS sumA,
        COUNT(A.id) AS countAId,
        COUNT(A.price) AS countAPrice,
        COUNT(*) AS countAll,
        COUNT(price) AS countAllPrice,
        LAST(id) AS endId
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A+ C)
      DEFINE
        A AS SUM(A.price) < 30,
        C AS C.name = 'c'
    """
    out = match_recognize_sql(
        df.withColumn("grp", df.id * 0), clause, "id"
    ).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (
        r["sumA"], r["countAId"], r["countAPrice"], r["countAll"],
        r["countAllPrice"], r["endId"],
    ) == (29, 7, 5, 8, 6, 8)


def test_user_defined_functions(spark):
    """testUserDefinedFunctions: a scalar UDF and a stateful-start UDAF
    inside both DEFINE and MEASURES."""
    data = [
        (1, "a", 1), (2, "a", 1), (3, "a", 1), (4, "a", 1), (5, "a", 1),
        (6, "b", 1), (7, "a", 1), (8, "a", 1), (9, "f", 1),
    ]
    df = _ticker(
        spark,
        [(i, n, p, _ts(i)) for i, n, p in data],
        "id long, name string, price long, ts timestamp",
    )
    udfs = {
        "prefix": ("scalar", lambda v: f"PREF:{v}", "string"),
        "countFrom": ("agg", lambda rows: 4 + sum(r[0] for r in rows), "bigint"),
    }
    clause = """
      PARTITION BY grp
      ORDER BY ts
      MEASURES
        FIRST(id) AS firstId,
        prefix(A.name) AS prefixedNameA,
        countFrom(A.price) AS countFromA,
        LAST(id) AS lastId
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A+ C)
      DEFINE
        A AS prefix(A.name) = 'PREF:a' AND countFrom(A.price) <= 8
    """
    out = (
        match_recognize_sql(
            df.withColumn("grp", df.id * 0), clause, "id", udfs=udfs
        )
        .toPandas()
        .sort_values("firstId")
        .reset_index(drop=True)
    )
    got = [
        (r["firstId"], r["prefixedNameA"], r["countFromA"], r["lastId"])
        for _, r in out.iterrows()
    ]
    assert got == [(1, "PREF:a", 8, 5), (7, "PREF:a", 6, 9)]


def test_aggregate_measures_streaming_equals_batch(spark, tmp_path):
    """The aggregate/offset measure set on the watermark-held STREAMING
    deployment: a file-replay stream (2 rows per micro-batch) must produce
    exactly the batch result."""
    data = [
        (1, "a", 1, 0.8, 1), (2, "z", 2, 0.8, 3), (3, "b", 1, 0.8, 2),
        (4, "c", 1, 0.8, 5), (5, "d", 4, 0.1, 5), (6, "a", 2, 1.5, 2),
        (7, "b", 2, 0.8, 3), (8, "c", 1, 0.8, 2), (9, "h", 4, 0.8, 3),
        (10, "h", 4, 0.8, 3), (11, "h", 2, 0.8, 3), (12, "h", 2, 0.8, 3),
        # trailing advancer so the watermark passes the last data row
        (99, "zz", 0, 0.0, 1),
    ]
    schema = (
        "grp long, id long, name string, price long, rate double, "
        "weight long, ts timestamp"
    )
    rows = [(0, i, n, p, r, w, _ts(i)) for i, n, p, r, w in data]
    df = spark.createDataFrame(rows, schema)
    d = str(tmp_path / "mr_agg_stream")
    df.repartition(1).sortWithinPartitions("id").write.parquet(d)

    clause = """
      PARTITION BY grp
      ORDER BY ts
      MEASURES
        FIRST(id) AS startId,
        SUM(A.price) AS sumA,
        SUM(B.price * B.rate) AS sumExprB,
        LAST(A.id, 1) AS secondLastA,
        LAST(id) AS endId
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A+ B+ C)
      DEFINE
        A AS SUM(A.price) < 6,
        B AS SUM(B.price * B.rate) < SUM(A.price) AND SUM(B.price) >= 1
    """
    batch = (
        match_recognize_sql(df, clause, "id")
        .toPandas()
        .sort_values("startId")
        .reset_index(drop=True)
    )
    assert len(batch) >= 1  # the shape must actually match on this data

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withWatermark("ts", "0 seconds")
    )
    q = (
        match_recognize_sql(sdf, clause, "id", streaming=True)
        .writeStream.format("memory")
        .queryName("mr_agg_stream_t")
        .outputMode("update")
        .option(
            "checkpointLocation", str(tmp_path / "fps_ckpt_mr_agg_stream")
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = (
        spark.sql("SELECT * FROM mr_agg_stream_t")
        .toPandas()
        .sort_values("startId")
        .reset_index(drop=True)
    )
    cols = ["startId", "sumA", "sumExprB", "secondLastA", "endId"]
    assert list(map(tuple, streamed[cols].itertuples(index=False))) == list(
        map(tuple, batch[cols].itertuples(index=False))
    )


def test_quantifier_grammar_times(spark):
    """PATTERN quantifiers {n}, {n,}, {n,m}: exact repetition has no greedy
    preference; bounded/unbounded ranges are possessive-greedy."""
    # 5 consecutive clicks then a buy
    rows = [
        (1, i, _ts(i), "click" if i < 6 else "buy") for i in range(1, 7)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, t string"
    )
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      MEASURES COUNT(C.*) AS n_clicks, LAST(B.event_id) AS buy_id
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (C{2,4} B)
      DEFINE C AS C.t = 'click', B AS B.t = 'buy'
    """
    out = match_recognize_sql(df, clause, "event_id").toPandas()
    # possessive {2,4}: C binds rows 2..5 (maximal 4 from the first viable
    # anchor that leaves B satisfiable)... anchor at row 1 takes C=[1..4],
    # then B at row 5 is a click -> attempt dies (no backtracking); the
    # scan resumes at row 2: C=[2..5], B=buy row 6.
    assert len(out) == 1
    assert (out.iloc[0]["n_clicks"], out.iloc[0]["buy_id"]) == (4, 6)

    clause_exact = """
      PARTITION BY user_id
      ORDER BY ts
      MEASURES FIRST(C.event_id) AS first_c, COUNT(C.*) AS n_clicks
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (C{3} B)
      DEFINE C AS C.t = 'click', B AS B.t = 'buy'
    """
    out2 = match_recognize_sql(df, clause_exact, "event_id").toPandas()
    assert len(out2) == 1
    assert (out2.iloc[0]["first_c"], out2.iloc[0]["n_clicks"]) == (3, 3)


def test_count_distinct_and_min_max_measures(spark):
    """COUNT(DISTINCT expr) and MIN/MAX aggregates over a variable."""
    rows = [
        (1, 1, _ts(1), "c", 5.0), (1, 2, _ts(2), "c", 3.0),
        (1, 3, _ts(3), "c", 5.0), (1, 4, _ts(4), "b", 9.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, t string, v double"
    )
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      MEASURES
        COUNT(DISTINCT C.v) AS n_distinct,
        MIN(C.v) AS min_v,
        MAX(C.v) AS max_v,
        AVG(C.v) AS avg_v
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (C+ B)
      DEFINE C AS C.t = 'c', B AS B.t = 'b'
    """
    out = match_recognize_sql(df, clause, "event_id").toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r["n_distinct"], r["min_v"], r["max_v"]) == (2, 3.0, 5.0)
    assert r["avg_v"] == pytest.approx((5.0 + 3.0 + 5.0) / 3)


def test_simple_pattern_with_nulls_no_partition(spark):
    """testSimplePatternWithNulls: a PARTITION-BY-less clause (one global
    match sequence) with NULL field navigation — LAST(A.nullField) IS NULL
    in DEFINE and NULL-valued measures."""
    data = [
        (1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, None),
        (6, "a"), (7, "b"), (8, "c"), (9, None),
    ]
    df = spark.createDataFrame(
        [(i, n, None, _ts(i)) for i, n in data],
        "id long, name string, nullField string, ts timestamp",
    )
    clause = """
      ORDER BY ts
      MEASURES
        A.id AS aid,
        A.nullField AS aNull,
        LAST(B.nullField) AS bNull,
        C.id AS cid
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B C)
      DEFINE
        A AS name = 'a' AND nullField IS NULL,
        B AS name = 'b' AND LAST(A.nullField) IS NULL,
        C AS name = 'c'
    """
    out = (
        match_recognize_sql(df, clause, "id")
        .toPandas()
        .sort_values("aid")
        .reset_index(drop=True)
    )
    got = [
        (
            r["aid"],
            None if pd.isna(r["bNull"]) else r["bNull"],
            r["cid"],
            None if pd.isna(r["aNull"]) else r["aNull"],
        )
        for _, r in out.iterrows()
    ]
    assert got == [(1, None, 3, None), (6, None, 8, None)]
    assert "__mr_pk" not in out.columns  # internal global key is dropped


def test_match_recognize_applied_to_windowed_grouping(spark):
    """testMatchRecognizeAppliedToWindowedGrouping: a tumbling aggregation
    feeds MATCH_RECOGNIZE whose DEFINE uses a bare OTHER-variable
    reference (B.price < A.price = A's last matched row)."""
    from pyspark.sql import functions as F

    data = [
        ("ACME", 1, 1, 1), ("ACME", 2, 2, 2),
        ("ACME", 4, 1, 4), ("ACME", 5, 1, 3),
        ("ACME", 7, 2, 3), ("ACME", 8, 2, 3),
        ("ACME1", 1, 20, 4), ("ACME1", 1, 24, 4),
        ("ACME1", 1, 25, 3), ("ACME1", 1, 19, 8),
    ]
    t = spark.createDataFrame(
        [(s, _ts(sec), p, x) for s, sec, p, x in data],
        "symbol string, rowtime timestamp, price long, tax long",
    )
    win = (
        t.groupBy(F.window("rowtime", "3 seconds"), "symbol")
        .agg(F.sum("price").alias("price"))
        .select(
            "symbol",
            "price",
            (F.col("window.end") - F.expr("INTERVAL 1 MILLISECOND")).alias(
                "rowTime"
            ),
            F.col("window.start").alias("startTime"),
        )
    )
    clause = """
      PARTITION BY symbol
      ORDER BY rowTime
      MEASURES
        B.price AS dPrice,
        B.startTime AS dTime
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B)
      DEFINE
        B AS B.price < A.price
    """
    out = match_recognize_sql(win, clause, "rowTime").toPandas()
    got = [(r["symbol"], r["dPrice"], r["dTime"]) for _, r in out.iterrows()]
    assert got == [("ACME", 2, _ts(3))]


def test_windowed_grouping_applied_to_match_recognize(spark):
    """testWindowedGroupingAppliedToMatchRecognize: MATCH_ROWTIME() in
    MEASURES (the last matched row's rowtime) feeds a downstream tumbling
    aggregation."""
    from pyspark.sql import functions as F

    data = [
        ("ACME", 1, 1, 1), ("ACME", 2, 2, 2),
        ("ACME", 4, 1, 4), ("ACME", 5, 1, 3),
    ]
    t = spark.createDataFrame(
        [(s, _ts(sec), p, x) for s, sec, p, x in data],
        "symbol string, rowtime timestamp, price long, tax long",
    )
    clause = """
      PARTITION BY symbol
      ORDER BY rowtime
      MEASURES
        A.price AS price,
        A.tax AS tax,
        MATCH_ROWTIME() AS matchRowtime
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A)
      DEFINE
        A AS A.price > 0
    """
    mr = match_recognize_sql(t, clause, "rowtime")
    agg = (
        mr.groupBy(F.window("matchRowtime", "3 seconds"), "symbol")
        .agg(F.sum("price").alias("price"))
        .select(
            "symbol",
            "price",
            (F.col("window.end") - F.expr("INTERVAL 1 MILLISECOND")).alias(
                "rowTime"
            ),
            F.col("window.start").alias("startTime"),
        )
        .toPandas()
        .sort_values("startTime")
        .reset_index(drop=True)
    )
    got = [
        (r["symbol"], r["price"], r["rowTime"], r["startTime"])
        for _, r in agg.iterrows()
    ]
    assert got == [
        ("ACME", 3, _ts(3) - dtm.timedelta(milliseconds=1), _ts(0)),
        ("ACME", 2, _ts(6) - dtm.timedelta(milliseconds=1), _ts(3)),
    ]


def test_all_rows_per_match_rejected(spark):
    """StreamExecMatchRule:110 parity: ALL ROWS PER MATCH is rejected with
    the reference's own message (the per-event default output — no
    per-match clause — is this engine's row-level surface)."""
    df = spark.createDataFrame(
        [(1, 1, _ts(1), "a")],
        "user_id long, event_id long, ts timestamp, t string",
    )
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      MEASURES A.event_id AS aid
      ALL ROWS PER MATCH
      PATTERN (A)
      DEFINE A AS A.t = 'a'
    """
    with pytest.raises(ValueError, match="All rows per match"):
        match_recognize_sql(df, clause, "event_id")


def test_empty_match_pattern_rejected(spark):
    """StreamExecMatch.scala:181 parity: a pattern where every state is
    optional (can produce empty matches) is rejected."""
    df = spark.createDataFrame(
        [(1, 1, _ts(1), "a")],
        "user_id long, event_id long, ts timestamp, t string",
    )
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      PATTERN (A* B?)
      DEFINE A AS A.t = 'a', B AS B.t = 'b'
    """
    with pytest.raises(ValueError, match="empty matches"):
        match_recognize_sql(df, clause, "event_id")


def test_aggregate_on_multiple_variables_rejected(spark):
    """MatchUtil.scala:46 parity: an aggregate over more than one pattern
    variable is rejected (Aggregation must be applied to a single pattern
    variable)."""
    df = spark.createDataFrame(
        [(1, 1, _ts(1), "a", 1.0)],
        "user_id long, event_id long, ts timestamp, t string, v double",
    )
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      MEASURES SUM(A.v + B.v) AS s
      ONE ROW PER MATCH
      PATTERN (A B)
      DEFINE A AS A.t = 'a', B AS B.t = 'b'
    """
    with pytest.raises(ValueError, match="single pattern variable"):
        match_recognize_sql(df, clause, "event_id")


def test_greedy_quantifier_at_end_supported(spark):
    """Capability BEYOND the reference: blink rejects a greedy quantifier
    as the pattern's last element (StreamExecMatch.scala:188, a CEP-library
    TODO); this engine runs it with well-defined possessive semantics —
    the run binds maximally, and the streaming operator holds a
    frontier-adjacent run until the watermark finalizes growth."""
    rows = [(1, i, _ts(i), "c" if i < 4 else "x") for i in range(1, 6)]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, t string"
    )
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      MEASURES FIRST(C.event_id) AS first_c, COUNT(C.*) AS n
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (C+)
      DEFINE C AS C.t = 'c'
    """
    out = match_recognize_sql(df, clause, "event_id").toPandas()
    assert [(r["first_c"], r["n"]) for _, r in out.iterrows()] == [(1, 3)]


def test_mr_and_or_short_circuit_guarded_division():
    """AND/OR compile to lazy conditional expressions, so a guarded
    division must not raise when the guard already decides — and the
    Kleene truth tables must be unchanged."""
    from flink_parent_spark.streaming.match_recognize_sql import (
        _MR_GLOBALS,
        _MrCompiler,
        _and,
        _and_f,
        _or,
        _or_f,
    )

    # lazy completion helpers reproduce the eager Kleene tables exactly
    for a in (True, False, None):
        for b in (True, False, None):
            lazy_and = (
                False if (a is not None and not a) else _and_f(a, b)
            )
            lazy_or = True if (a is not None and a) else _or_f(a, b)
            assert lazy_and == _and(a, b)
            assert lazy_or == _or(a, b)

    # a guard of FALSE must skip the guarded division (the eager form
    # raised ZeroDivisionError here); TRUE guard must evaluate it
    def run(expr_src):
        comp = _MrCompiler(expr_src, "define", set(), dtypes={})
        src, _ = comp.compile()
        return eval(  # noqa: S307 - mirrors the engine's own eval harness
            compile(src, "<t>", "eval"), dict(_MR_GLOBALS), {}
        )

    assert run("1 <> 1 AND 10 / 0 > 1") is False
    assert run("1 = 1 OR 10 / 0 > 1") is True
    with pytest.raises(ZeroDivisionError):
        run("1 = 1 AND 10 / 0 > 1")
    # nested chains: inner walrus names must not clobber outer ones
    assert run("1 = 1 AND (2 = 2 OR 10 / 0 > 1)") is True
    assert run("(1 <> 1 AND 10 / 0 > 1) OR 3 = 3") is True
