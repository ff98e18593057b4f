"""Streaming queries for the correctness catalog: each runs a REAL
Structured Streaming query (file replay, AvailableNow trigger, memory sink)
to completion and returns the materialized result, which the driver checks
against a batch SQL oracle — full-replay streaming must converge to the
batch answer (the reference asserts the same in its stream ITCases).

Mirrored reference suites: runtime/stream/sql/{WindowAggregateITCase,
DeduplicateITCase, RankITCase, OverWindowITCase, IntervalJoinITCase,
MatchRecognizeITCase}.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from flink_parent_spark.queries.registry import df_query, dsum
from flink_parent_spark.streaming.cep import AfterMatchSkip, Pattern, cep_pattern
from flink_parent_spark.streaming.core import run_stream_to_df, stream_table
from flink_parent_spark.streaming.stateful import (
    streaming_dedup,
    streaming_over,
    streaming_top_n,
)
from flink_parent_spark.tables import load_tables


@df_query(
    "stream_tumble_agg",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type, COUNT(*) AS n, {dsum('value', 'sum_value')}
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumble_agg(spark, sf_dir):
    ev = stream_table(spark, sf_dir, "events", watermark=("ts", "10 minutes"))
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
    )
    out = run_stream_to_df(agg, "complete")
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", "n", "sum_value"
    )


@df_query(
    "stream_session_window",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL '30' MINUTE THEN 0 ELSE 1 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n
    FROM numbered GROUP BY user_id, sid
    """,
)
def stream_session_window(spark, sf_dir):
    ev = stream_table(spark, sf_dir, "events", watermark=("ts", "10 minutes"))
    agg = ev.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count("*").alias("n")
    )
    out = run_stream_to_df(agg, "complete")
    return out.select(
        "user_id", F.col("session_window.start").alias("session_start"), "n"
    )


@df_query(
    "stream_unbounded_group_agg",
    oracle=f"""
    SELECT event_type, user_id % 5 AS user_bucket,
           COUNT(*) AS n, {dsum('value', 'sum_value')},
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events GROUP BY event_type, user_id % 5
    """,
)
def stream_unbounded_group_agg(spark, sf_dir):
    """Unbounded streaming group aggregation (GroupAggFunction.java:121
    parity): no window, state per group updated forever; complete-mode
    output after full replay equals the batch aggregate."""
    ev = stream_table(spark, sf_dir, "events")
    agg = (
        ev.withColumn("user_bucket", F.col("user_id") % 5)
        .groupBy("event_type", "user_bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    return run_stream_to_df(agg, "complete")


@df_query(
    "source_sequence_datagen",
    oracle="""
    SELECT g AS id, g * g AS sq, g % 7 AS m
    FROM (SELECT unnest(generate_series(0, 999)) AS g) t
    WHERE g % 3 = 0
    """,
)
def source_sequence_datagen(spark, sf_dir):
    """Sequence/datagen source parity (StatefulSequenceSource /
    FromElementsFunction): spark.range is the distributed generator."""
    return (
        spark.range(0, 1000)
        .filter(F.col("id") % 3 == 0)
        .select("id", (F.col("id") * F.col("id")).alias("sq"), (F.col("id") % 7).alias("m"))
    )


@df_query(
    "stream_hop_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '30 minutes', ts) - j * INTERVAL '30' MINUTE
             AS window_start,
           event_type, COUNT(*) AS n
    FROM events, (SELECT unnest(generate_series(0, 1)) AS j) offs
    WHERE ts < time_bucket(INTERVAL '30 minutes', ts)
              - j * INTERVAL '30' MINUTE + INTERVAL '1' HOUR
    GROUP BY 1, 2
    """,
)
def stream_hop_window(spark, sf_dir):
    """Streaming HOP (sliding) window aggregation, full replay == batch."""
    ev = stream_table(spark, sf_dir, "events", watermark=("ts", "10 minutes"))
    agg = ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type").agg(
        F.count("*").alias("n")
    )
    out = run_stream_to_df(agg, "complete")
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", "n"
    )


@df_query(
    "stream_dedup_first",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def stream_dedup_first(spark, sf_dir):
    """Streaming exact dedup over a duplicated stream (self-union) — state
    op drops every second copy; full replay must equal the clean table."""
    a = stream_table(spark, sf_dir, "events")
    b = stream_table(spark, sf_dir, "events")
    deduped = a.unionByName(b).dropDuplicates(["event_id"])
    return run_stream_to_df(deduped, "append").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@df_query(
    "stream_topn_per_type",
    oracle="""
    SELECT event_type, value, event_id, user_id, CAST(rank AS INT) AS rank
    FROM (
      SELECT event_type, value, event_id, user_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rank
      FROM events) t
    WHERE rank <= 3
    """,
)
def stream_topn_per_type(spark, sf_dir):
    ev = stream_table(spark, sf_dir, "events")
    tn = streaming_top_n(
        ev, ["event_type"], "value", 3, ["event_id", "user_id"], tiebreak_col="event_id"
    )
    return run_stream_to_df(tn, "update")


@df_query(
    "stream_over_running_sum",
    oracle="""
    SELECT user_id, ts, value, event_id,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS running_sum,
           COUNT(*) OVER w AS running_cnt
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def stream_over_running_sum(spark, sf_dir):
    ev = stream_table(spark, sf_dir, "events")
    ov = streaming_over(
        ev, ["user_id"], "ts", "value", ("rows", None),
        [("sum", "running_sum"), ("count", "running_cnt")], ["event_id"],
    )
    return run_stream_to_df(ov, "append")


@df_query(
    "stream_interval_join",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '10' MINUTE
    """,
)
def stream_interval_join(spark, sf_dir):
    """Stream-stream interval join with watermarks on both sides (built-in
    Structured Streaming operator — the reference needs TimeIntervalJoin)."""
    views = (
        stream_table(spark, sf_dir, "events", watermark=("ts", "30 minutes"))
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    purchases = (
        stream_table(spark, sf_dir, "events", watermark=("ts", "30 minutes"))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    j = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    return run_stream_to_df(j, "append").select(
        "view_id", "purchase_id", F.col("v_user").alias("user_id")
    )


@df_query(
    "stream_cep_signup_purchase",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             LEAD(event_type) OVER w AS nxt_type,
             LEAD(event_id) OVER w AS nxt_id,
             LEAD(ts) OVER w AS nxt_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), m AS (
      SELECT user_id, event_id AS a_id, ts AS a_ts, nxt_id AS b_id,
             nxt_ts AS b_ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
               AS match_id
      FROM seq WHERE event_type = 'signup' AND nxt_type = 'purchase'
    )
    SELECT user_id, a_id AS event_id, match_id, 'signup' AS stage,
           0 AS seq, a_ts AS event_ts FROM m
    UNION ALL
    SELECT user_id, b_id, match_id, 'purchase', 1, b_ts FROM m
    """,
)
def stream_cep_signup_purchase(spark, sf_dir):
    """CEP over a real stream: the stateful NFA buffers per-key events in
    GroupState and emits matches as batches arrive (CepOperator parity);
    full replay must equal the batch matcher."""
    from flink_parent_spark.streaming.cep import (
        AfterMatchSkip,
        Pattern,
        cep_pattern_stream,
    )

    ev = stream_table(spark, sf_dir, "events")
    pat = (
        Pattern.begin("signup")
        .where(lambda r: r["event_type"] == "signup")
        .next("purchase")
        .where(lambda r: r["event_type"] == "purchase")
    )
    out = cep_pattern_stream(
        ev, pat, ["user_id"], "ts", "event_id", AfterMatchSkip.SKIP_PAST_LAST
    )
    return run_stream_to_df(out, "update")


@df_query(
    "stream_cep_watermark_held",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             LEAD(event_type) OVER w AS nxt_type,
             LEAD(event_id) OVER w AS nxt_id,
             LEAD(ts) OVER w AS nxt_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), m AS (
      SELECT user_id, event_id AS a_id, ts AS a_ts, nxt_id AS b_id,
             nxt_ts AS b_ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
               AS match_id
      FROM seq WHERE event_type = 'signup' AND nxt_type = 'purchase'
    )
    SELECT user_id, a_id AS event_id, match_id, 'signup' AS stage,
           0 AS seq, a_ts AS event_ts FROM m
    UNION ALL
    SELECT user_id, b_id, match_id, 'purchase', 1, b_ts FROM m
    """,
)
def stream_cep_watermark_held(spark, sf_dir):
    """Watermark-held CEP: matches are only emitted from the sealed
    (<= watermark) region, so out-of-order events within the delay sort into
    place before any match can use or skip them; the event-time timeout
    flushes the tail once the final no-data batch advances the watermark.
    Full replay must equal the batch matcher / SQL oracle."""
    from flink_parent_spark.streaming.cep import cep_pattern_stream_watermarked

    ev = stream_table(spark, sf_dir, "events", watermark=("ts", "0 seconds"))
    pat = (
        Pattern.begin("signup")
        .where(lambda r: r["event_type"] == "signup")
        .next("purchase")
        .where(lambda r: r["event_type"] == "purchase")
    )
    out = cep_pattern_stream_watermarked(
        ev, pat, ["user_id"], "ts", "event_id", AfterMatchSkip.SKIP_PAST_LAST
    )
    return run_stream_to_df(out, "update")


@df_query(
    "stream_asof_join",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_id, value FROM (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '2024-02-01 00:00:00') t
      WHERE rn = 1
    )
    SELECT o.o_orderkey, o.o_custkey,
           e.event_id AS last_event_id, e.value AS last_event_value
    FROM (SELECT * FROM orders WHERE o_custkey < 150) o
    LEFT JOIN latest e ON o.o_custkey = e.user_id
    """,
)
def stream_asof_join(spark, sf_dir):
    """Temporal-table-function parity in streaming form: each order probes
    the versioned per-user event state for the latest version as of a
    common probe time (orders predate all events, so the probe time is a
    constant — exercises the versioned-state buffer, matching
    TemporalProcessTimeJoinOperator's latest-version semantics)."""
    import datetime as dt

    from pyspark.sql.streaming.state import GroupStateTimeout
    import pandas as pd

    t = load_tables(spark, sf_dir)
    # versioned right side: latest event per user as of probe time
    ev = stream_table(spark, sf_dir, "events")
    probe = dt.datetime(2024, 2, 1)

    def latest_version(key, pdfs, state):
        cur = state.get if state.exists else (None, None, None)
        best_ts, best_id, best_val = cur
        for pdf in pdfs:
            for r in pdf[["ts", "event_id", "value"]].to_dict("records"):
                if r["ts"] <= probe and (
                    best_ts is None
                    or (r["ts"], r["event_id"]) > (best_ts, best_id)
                ):
                    best_ts, best_id, best_val = r["ts"], r["event_id"], r["value"]
        state.update((best_ts, best_id, best_val))
        yield pd.DataFrame(
            [{"user_id": key[0], "event_id": best_id, "value": best_val}]
        )

    versions = ev.groupBy("user_id").applyInPandasWithState(
        latest_version,
        "user_id bigint, event_id bigint, value double",
        "ts timestamp, event_id bigint, value double",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    state_table = run_stream_to_df(versions, "update")
    orders = t["orders"].filter(F.col("o_custkey") < 150)
    joined = orders.join(
        state_table, orders.o_custkey == state_table.user_id, "left"
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_event_value"),
    )


@df_query(
    "match_recognize_sql_clause",
    oracle="""
    WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    pairs AS (
      SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
             p.event_id AS purchase_id, p.ts AS purchase_ts,
             ROW_NUMBER() OVER (PARTITION BY v.user_id, v.event_id
                                ORDER BY p.ts, p.event_id) AS rn
      FROM v JOIN p ON v.user_id = p.user_id
       AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL '10' MINUTE
    ), m AS (
      SELECT user_id, view_id, view_ts, purchase_id, purchase_ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY view_ts, view_id) - 1 AS match_id
      FROM pairs WHERE rn = 1
    )
    SELECT user_id, view_id AS event_id, match_id, 'V' AS stage,
           0 AS seq, view_ts AS event_ts FROM m
    UNION ALL
    SELECT user_id, purchase_id, match_id, 'P', 1, purchase_ts FROM m
    """,
)
def match_recognize_sql_clause(spark, sf_dir):
    """SQL MATCH_RECOGNIZE surface: the clause text is parsed, DEFINE
    predicates are evaluated by Catalyst, matching runs in the CEP engine."""
    from flink_parent_spark.streaming.match_recognize_sql import match_recognize_sql

    t = load_tables(spark, sf_dir)
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (V {- X*? -} P)
      WITHIN INTERVAL '10' MINUTE
      DEFINE V AS V.event_type = 'view',
             P AS P.event_type = 'purchase'
    """
    return match_recognize_sql(t["events"], clause, "event_id")


@df_query(
    "match_recognize_measures",
    oracle="""
    WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    pairs AS (
      SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
             p.event_id AS purchase_id, p.value AS purchase_value,
             ROW_NUMBER() OVER (PARTITION BY v.user_id, v.event_id
                                ORDER BY p.ts, p.event_id) AS rn
      FROM v JOIN p ON v.user_id = p.user_id
       AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL '10' MINUTE
    )
    SELECT user_id,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY view_ts, view_id) - 1 AS match_id,
           view_id, purchase_id, purchase_value
    FROM pairs WHERE rn = 1
    """,
)
def match_recognize_measures(spark, sf_dir):
    """MATCH_RECOGNIZE with MEASURES + ONE ROW PER MATCH: one aggregated
    output row per match (FIRST/LAST stage navigation)."""
    from flink_parent_spark.streaming.match_recognize_sql import match_recognize_sql

    t = load_tables(spark, sf_dir)
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      MEASURES FIRST(V.event_id) AS view_id,
               LAST(P.event_id) AS purchase_id,
               LAST(P.value) AS purchase_value
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (V {- X*? -} P)
      WITHIN INTERVAL '10' MINUTE
      DEFINE V AS V.event_type = 'view',
             P AS P.event_type = 'purchase'
    """
    return match_recognize_sql(t["events"], clause, "event_id")


@df_query(
    "match_recognize_statement_sql",
    oracle="""
    WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    pairs AS (
      SELECT v.user_id, v.event_id AS view_id,
             p.event_id AS purchase_id, p.value AS purchase_value,
             ROW_NUMBER() OVER (PARTITION BY v.user_id, v.event_id
                                ORDER BY p.ts, p.event_id) AS rn
      FROM v JOIN p ON v.user_id = p.user_id
       AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL '10' MINUTE
    )
    SELECT user_id, view_id, purchase_id, purchase_value
    FROM pairs WHERE rn = 1
    """,
)
def match_recognize_statement_sql(spark, sf_dir):
    """MATCH_RECOGNIZE typed as a FULL SQL STATEMENT through
    TableEnvironment.sql_query — the reference's primary entry point
    (ParserImpl.java:70 -> StreamExecMatch.scala:68; every
    MatchRecognizeITCase query is this shape). Exercises the statement
    recognizer, the two-column ORDER BY tie-breaker, the implicit ONE ROW
    PER MATCH default (no keyword in the text), and the alias-qualified
    outer SELECT. Same match semantics as `match_recognize_measures`, so
    the oracle is that query's, minus the internal match ordinal (the
    statement surface outputs Calcite's row type: partition + measures)."""
    from flink_parent_spark.api.table_env import TableEnvironment  # noqa: PLC0415

    t = load_tables(spark, sf_dir)
    t["events"].createOrReplaceTempView("__mr_stmt_events")
    t_env = TableEnvironment(spark)
    return t_env.sql_query(
        """
        SELECT T.user_id, T.view_id, T.purchase_id, T.purchase_value
        FROM __mr_stmt_events
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(V.event_id) AS view_id,
                   LAST(P.event_id) AS purchase_id,
                   LAST(P.value) AS purchase_value
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (V {- X*? -} P)
          WITHIN INTERVAL '10' MINUTE
          DEFINE V AS V.event_type = 'view',
                 P AS P.event_type = 'purchase'
        ) AS T
        """
    ).to_df()


@df_query(
    "stream_retract_topn",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t
      WHERE rn = 1
    )
    SELECT event_type, value, user_id, CAST(rnk AS INT) AS rank FROM (
      SELECT event_type, value, user_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, user_id) AS rnk
      FROM latest) r
    WHERE rnk <= 3
    """,
)
def stream_retract_topn(spark, sf_dir):
    """Retraction-aware streaming Top-N (RetractableTopNFunction parity):
    a keep-last changelog per user feeds a Top-3-by-value ranking per
    event_type; when a user's latest event changes, the old version is
    RETRACTED from its group's ranking — the case append-only Top-N gets
    wrong. Chained as changelog -> file -> streaming retract-TopN."""
    import os
    import tempfile
    import uuid

    from flink_parent_spark.streaming.changelog import changelog_keep_last
    from flink_parent_spark.streaming.stateful import streaming_retract_top_n

    ev = stream_table(spark, sf_dir, "events").withColumn(
        "__ord",
        (F.unix_micros("ts") - F.lit(1_704_067_200_000_000)) * F.lit(1_000_000)
        + F.col("event_id"),
    )
    log = changelog_keep_last(ev, ["user_id"], "__ord", ["event_type", "value"])
    staged = run_stream_to_df(log, "append")
    out_dir = os.path.join(tempfile.gettempdir(), f"fps_chlog_{uuid.uuid4().hex[:8]}")
    staged.write.mode("overwrite").parquet(out_dir)
    schema = spark.read.parquet(out_dir).schema
    stream = spark.readStream.schema(schema).format("parquet").load(out_dir)
    tn = streaming_retract_top_n(
        stream,
        ["event_type"],
        "value",
        3,
        ["user_id"],
        tiebreak_col="user_id",
        sequence_col="__ord",
    )
    return run_stream_to_df(tn, "update")


# --- changelog / retraction -------------------------------------------------


@df_query(
    "changelog_latest_value_by_type",
    oracle=f"""
    WITH latest AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t
      WHERE rn = 1
    )
    SELECT event_type, COUNT(*) AS n_users, {dsum('value', 'sum_value')}
    FROM latest GROUP BY event_type
    """,
)
def changelog_latest_value_by_type(spark, sf_dir):
    """Two-level streaming aggregation via the changelog layer: keep-last
    dedup per user emits +I/-U/+U rows; a retraction-consuming aggregate
    regroups by event_type. Users whose latest event_type changes mid-stream
    are retracted from the old group — the semantics Spark's built-in
    update-mode aggregation cannot chain (SURVEY §1.4)."""
    from flink_parent_spark.streaming.changelog import (
        changelog_keep_last,
        retract_aggregate,
    )

    ev = stream_table(spark, sf_dir, "events")
    # stage 1 (streaming, stateful): RowKind-tagged keep-last changelog.
    # Tiebreak equal timestamps by event_id via a composite order key so the
    # changelog transition order matches the oracle's ROW_NUMBER order.
    ev = ev.withColumn(
        "__ord",
        (F.unix_micros("ts") - F.lit(1_704_067_200_000_000)) * F.lit(1_000_000)
        + F.col("event_id"),
    )
    log = changelog_keep_last(ev, ["user_id"], "__ord", ["event_type", "value"])
    materialized = run_stream_to_df(log, "append")
    # stage 2 (relational): signed-sum retraction aggregate.
    return retract_aggregate(
        materialized, ["event_type"], {"sum_value": "value"}, count_alias="n_users"
    )


# --- CEP --------------------------------------------------------------------


@df_query(
    "cep_signup_then_purchase",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             LEAD(event_type) OVER w AS nxt_type,
             LEAD(event_id) OVER w AS nxt_id,
             LEAD(ts) OVER w AS nxt_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), m AS (
      SELECT user_id, event_id AS a_id, ts AS a_ts, nxt_id AS b_id,
             nxt_ts AS b_ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
               AS match_id
      FROM seq WHERE event_type = 'signup' AND nxt_type = 'purchase'
    )
    SELECT user_id, a_id AS event_id, match_id, 'signup' AS stage,
           0 AS seq, a_ts AS event_ts FROM m
    UNION ALL
    SELECT user_id, b_id, match_id, 'purchase', 1, b_ts FROM m
    """,
)
def cep_signup_then_purchase(spark, sf_dir):
    """CEP strict contiguity: signup immediately followed by purchase."""
    t = load_tables(spark, sf_dir)
    pat = (
        Pattern.begin("signup")
        .where(lambda r: r["event_type"] == "signup")
        .next("purchase")
        .where(lambda r: r["event_type"] == "purchase")
    )
    return cep_pattern(
        t["events"], pat, ["user_id"], "ts", "event_id", AfterMatchSkip.SKIP_PAST_LAST
    )


@df_query(
    "cep_view_then_purchase_10m",
    oracle="""
    WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    pairs AS (
      SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
             p.event_id AS purchase_id, p.ts AS purchase_ts,
             ROW_NUMBER() OVER (PARTITION BY v.user_id, v.event_id
                                ORDER BY p.ts, p.event_id) AS rn
      FROM v JOIN p ON v.user_id = p.user_id
       AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL '10' MINUTE
    ), m AS (
      SELECT user_id, view_id, view_ts, purchase_id, purchase_ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY view_ts, view_id) - 1 AS match_id
      FROM pairs WHERE rn = 1
    )
    SELECT user_id, view_id AS event_id, match_id, 'view' AS stage,
           0 AS seq, view_ts AS event_ts FROM m
    UNION ALL
    SELECT user_id, purchase_id, match_id, 'purchase', 1, purchase_ts FROM m
    """,
)
def cep_view_then_purchase_10m(spark, sf_dir):
    """CEP relaxed contiguity + within-window: view followed (within 10
    minutes) by the first purchase; every view may start a match (NO_SKIP)."""
    t = load_tables(spark, sf_dir)
    pat = (
        Pattern.begin("view")
        .where(lambda r: r["event_type"] == "view")
        .followed_by("purchase")
        .where(lambda r: r["event_type"] == "purchase")
        .within(dt.timedelta(minutes=10))
    )
    return cep_pattern(
        t["events"], pat, ["user_id"], "ts", "event_id", AfterMatchSkip.NO_SKIP
    )


@df_query(
    "cep_prev_rising_triple",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, value,
             LEAD(event_id, 1) OVER w AS id1, LEAD(ts, 1) OVER w AS ts1,
             LEAD(value, 1) OVER w AS v1,
             LEAD(event_id, 2) OVER w AS id2, LEAD(ts, 2) OVER w AS ts2,
             LEAD(value, 2) OVER w AS v2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), m AS (
      SELECT user_id, event_id AS a_id, ts AS a_ts, id1 AS b_id, ts1 AS b_ts,
             id2 AS c_id, ts2 AS c_ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
               AS match_id
      FROM seq WHERE v1 > value AND v2 > v1 AND v2 > value
    )
    SELECT user_id, a_id AS event_id, match_id, 'a' AS stage, 0 AS seq,
           a_ts AS event_ts FROM m
    UNION ALL SELECT user_id, b_id, match_id, 'b', 1, b_ts FROM m
    UNION ALL SELECT user_id, c_id, match_id, 'c', 2, c_ts FROM m
    """,
)
def cep_prev_rising_triple(spark, sf_dir):
    """DEFINE-clause navigation (MatchCodeGenerator.scala PREV/FIRST/LAST
    parity): strict triple A B C with B.value > PREV(B.value) and
    C.value > LAST(B.value) AND C.value > FIRST(A.value); NO_SKIP finds
    every overlapping triple."""
    t = load_tables(spark, sf_dir)
    pat = (
        Pattern.begin("a")
        .next("b")
        .where(lambda r, c: c.prev("value") is not None and r["value"] > c.prev("value"))
        .next("c")
        .where(
            lambda r, c: r["value"] > c.last("b", "value")
            and r["value"] > c.first("a", "value")
        )
    )
    return cep_pattern(
        t["events"], pat, ["user_id"], "ts", "event_id", AfterMatchSkip.NO_SKIP
    )


@df_query(
    "cep_v_shape_dip",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, ts, value,
             ROW_NUMBER() OVER w AS rn,
             CASE WHEN value < LAG(value) OVER w THEN 1 ELSE 0 END AS is_down,
             CASE WHEN value > LAG(value) OVER w THEN 1 ELSE 0 END AS is_up
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), grouped AS (
      SELECT *, SUM(CASE WHEN is_down = 0 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY rn) AS grp
      FROM base
    ), down_runs AS (
      SELECT user_id, grp, MIN(rn) AS d_start, MAX(rn) AS d_end
      FROM grouped WHERE is_down = 1 GROUP BY user_id, grp
    ), matches AS (
      SELECT r.user_id, r.d_start - 1 AS strt_rn, r.d_start, r.d_end,
             r.d_end + 1 AS up_rn,
             ROW_NUMBER() OVER (PARTITION BY r.user_id ORDER BY r.d_start) - 1
               AS match_id
      FROM down_runs r
      JOIN base u ON u.user_id = r.user_id AND u.rn = r.d_end + 1 AND u.is_up = 1
    )
    SELECT m.user_id, b.event_id, m.match_id, 'strt' AS stage, 0 AS seq,
           b.ts AS event_ts
    FROM matches m JOIN base b ON b.user_id = m.user_id AND b.rn = m.strt_rn
    UNION ALL
    SELECT m.user_id, b.event_id, m.match_id, 'down',
           CAST(b.rn - m.d_start + 1 AS INT), b.ts
    FROM matches m
    JOIN base b ON b.user_id = m.user_id AND b.rn BETWEEN m.d_start AND m.d_end
    UNION ALL
    SELECT m.user_id, b.event_id, m.match_id, 'up',
           CAST(m.d_end - m.d_start + 2 AS INT), b.ts
    FROM matches m JOIN base b ON b.user_id = m.user_id AND b.rn = m.up_rn
    """,
)
def cep_v_shape_dip(spark, sf_dir):
    """The canonical MATCH_RECOGNIZE V-pattern: STRT DOWN+ UP with
    DOWN AS value < PREV(value) (greedy maximal descent), UP AS
    value > PREV(value); STRT anchored to a non-descending row so each
    maximal dip matches exactly once. Oracle reconstructs matches via
    gaps-and-islands run detection — a fully independent formulation."""
    t = load_tables(spark, sf_dir)
    pat = (
        Pattern.begin("strt")
        .where(
            lambda r, c: c.prev("value") is None or r["value"] >= c.prev("value")
        )
        .next("down")
        .where(lambda r, c: c.prev("value") is not None and r["value"] < c.prev("value"))
        .one_or_more()
        .consecutive()
        .greedy()
        .next("up")
        .where(lambda r, c: c.prev("value") is not None and r["value"] > c.prev("value"))
    )
    return cep_pattern(
        t["events"], pat, ["user_id"], "ts", "event_id", AfterMatchSkip.NO_SKIP
    )


@df_query(
    "match_recognize_prev_define",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, ts, value,
             ROW_NUMBER() OVER w AS rn,
             CASE WHEN value < LAG(value) OVER w THEN 1 ELSE 0 END AS is_down,
             CASE WHEN value > LAG(value) OVER w THEN 1 ELSE 0 END AS is_up
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), grouped AS (
      SELECT *, SUM(CASE WHEN is_down = 0 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY rn) AS grp
      FROM base
    ), down_runs AS (
      SELECT user_id, grp, MIN(rn) AS d_start, MAX(rn) AS d_end
      FROM grouped WHERE is_down = 1 GROUP BY user_id, grp
    ), matches AS (
      SELECT r.user_id, r.d_start - 1 AS strt_rn, r.d_start, r.d_end,
             r.d_end + 1 AS up_rn,
             ROW_NUMBER() OVER (PARTITION BY r.user_id ORDER BY r.d_start) - 1
               AS match_id
      FROM down_runs r
      JOIN base u ON u.user_id = r.user_id AND u.rn = r.d_end + 1 AND u.is_up = 1
    )
    SELECT m.user_id, b.event_id, m.match_id, 'strt' AS stage, 0 AS seq,
           b.ts AS event_ts
    FROM matches m JOIN base b ON b.user_id = m.user_id AND b.rn = m.strt_rn
    UNION ALL
    SELECT m.user_id, b.event_id, m.match_id, 'down',
           CAST(b.rn - m.d_start + 1 AS INT), b.ts
    FROM matches m
    JOIN base b ON b.user_id = m.user_id AND b.rn BETWEEN m.d_start AND m.d_end
    UNION ALL
    SELECT m.user_id, b.event_id, m.match_id, 'up',
           CAST(m.d_end - m.d_start + 2 AS INT), b.ts
    FROM matches m JOIN base b ON b.user_id = m.user_id AND b.rn = m.up_rn
    """,
)
def match_recognize_prev_define(spark, sf_dir):
    """The same V-dip expressed through the MATCH_RECOGNIZE SQL clause with
    PREV() navigation in DEFINE — the parser rewrites PREV to a Catalyst
    LAG window expression, so condition evaluation stays JVM-side and the
    LAG window shares the matcher's hash partitioning (one exchange)."""
    from flink_parent_spark.streaming.match_recognize_sql import match_recognize_sql

    t = load_tables(spark, sf_dir)
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN ( strt down+ up )
      DEFINE
        strt AS PREV(strt.value) IS NULL OR strt.value >= PREV(strt.value),
        down AS down.value < PREV(down.value),
        up AS up.value > PREV(up.value)
    """
    return match_recognize_sql(t["events"], clause, "event_id")


@df_query(
    "match_recognize_last_nav",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, value, LAG(value) OVER w AS pv,
             ROW_NUMBER() OVER w AS pos
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), f AS (
      SELECT *, (pv IS NOT NULL AND value < pv) AS dn FROM seq
    ), g AS (
      SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY user_id, dn
                                         ORDER BY ts, event_id) AS grp
      FROM f
    ), runs AS (
      SELECT user_id, grp, MIN(pos) AS spos, MAX(pos) AS epos
      FROM g WHERE dn GROUP BY user_id, grp
    ), ups AS (
      SELECT r.user_id, r.spos, r.epos, u.event_id AS up_id, u.ts AS up_ts
      FROM runs r JOIN g u ON u.user_id = r.user_id AND u.pos = r.epos + 1
      WHERE u.pv IS NOT NULL AND u.value > u.pv
    ), mm AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY spos) - 1
                  AS match_id
      FROM ups
    )
    SELECT m.user_id, d.event_id, m.match_id, 'DOWN' AS stage,
           CAST(d.pos - m.spos AS INT) AS seq, d.ts AS event_ts
    FROM mm m JOIN g d ON d.user_id = m.user_id
                      AND d.pos BETWEEN m.spos AND m.epos
    UNION ALL
    SELECT user_id, up_id, match_id, 'UP',
           CAST(epos - spos + 1 AS INT), up_ts FROM mm
    """,
)
def match_recognize_last_nav(spark, sf_dir):
    """LAST(stage.col) navigation inside DEFINE: the recovery row must rise
    above the LAST row of the quantified DOWN run — match-state navigation
    that cannot be precomputed as a LAG column, so the parser compiles it to
    a MatchCtx predicate (MatchCodeGenerator.scala's IterativeCondition
    path, re-derived). The oracle expresses the equivalent maximal-
    descending-run + strict-recovery scan with window functions."""
    from flink_parent_spark.streaming.match_recognize_sql import match_recognize_sql

    t = load_tables(spark, sf_dir)
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      PATTERN ( DOWN+ UP )
      DEFINE
        DOWN AS DOWN.value < PREV(DOWN.value),
        UP AS UP.value > LAST(DOWN.value)
    """
    return match_recognize_sql(t["events"], clause, "event_id")


@df_query(
    "stream_full_outer_interval_join",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           COALESCE(v.user_id, p.user_id) AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'view'
            AND ts < TIMESTAMP '2024-01-20 00:00:00') v
    FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'purchase'
            AND ts < TIMESTAMP '2024-01-20 00:00:00') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '10' MINUTE
    """,
)
def stream_full_outer_interval_join(spark, sf_dir):
    """Stream-stream FULL OUTER interval join (StreamingJoinOperator's
    outer mode): unmatched rows on either side emit once the watermark
    seals their join window. Sentinel 'advancer' rows (the post-cutoff
    tail of the fixture, remapped to non-joining user ids) push both
    sides' watermarks past every real row's window so the full replay
    converges to the batch answer; they are filtered from the output."""
    cut = F.lit("2024-01-20 00:00:00").cast("timestamp")

    def side(evt: str, idc: str, userc: str, tsc: str, sentinel: int):
        base = stream_table(spark, sf_dir, "events")
        real = base.filter((F.col("event_type") == evt) & (F.col("ts") < cut)).select(
            F.col("event_id").alias(idc),
            F.col("user_id").alias(userc),
            F.col("ts").alias(tsc),
        )
        adv = base.filter(F.col("ts") >= cut).select(
            F.col("event_id").alias(idc),
            (F.col("user_id") + sentinel).alias(userc),
            F.col("ts").alias(tsc),
        )
        return real.unionByName(adv).withWatermark(tsc, "0 seconds")

    views = side("view", "view_id", "v_user", "v_ts", 1_000_000)
    purchases = side("purchase", "purchase_id", "p_user", "p_ts", 2_000_000)
    j = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
        "full_outer",
    )
    out = run_stream_to_df(j, "append")
    return out.filter(
        (F.coalesce(F.col("v_user"), F.lit(0)) < 1_000_000)
        & (F.coalesce(F.col("p_user"), F.lit(0)) < 1_000_000)
    ).select(
        "view_id", "purchase_id", F.coalesce("v_user", "p_user").alias("user_id")
    )


@df_query(
    "stream_over_range_bounded",
    oracle="""
    SELECT user_id, ts, value, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS range_sum,
           COUNT(*) OVER w AS range_cnt
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
    """,
)
def stream_over_range_bounded(spark, sf_dir):
    """Event-time RANGE-bounded streaming OVER aggregate
    (RowTimeRangeBoundedPrecedingFunction parity): trailing 1-hour sum and
    count per user, peers at the same timestamp aggregated together, state
    bounded by the range. Full replay must equal the batch RANGE window."""
    ev = stream_table(spark, sf_dir, "events", watermark=("ts", "0 seconds"))
    out = streaming_over(
        ev, ["user_id"], "ts", "value", ("range", 3600),
        [("sum", "range_sum"), ("count", "range_cnt")], ["event_id"],
        tiebreak_col="event_id",
    )
    return run_stream_to_df(out, "append")


@df_query(
    "cep_not_followed_by",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_purchase_ts,
             MIN(CASE WHEN event_type = 'error' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_error_ts
      FROM events
    ), m AS (
      SELECT s.user_id, s.event_id AS a_id, s.ts AS a_ts,
             p.event_id AS b_id, p.ts AS b_ts,
             ROW_NUMBER() OVER (PARTITION BY s.user_id
                                ORDER BY s.ts, s.event_id) - 1 AS match_id
      FROM seq s JOIN events p
        ON p.user_id = s.user_id AND p.ts = s.next_purchase_ts
       AND p.event_type = 'purchase'
      WHERE s.event_type = 'signup' AND s.next_purchase_ts IS NOT NULL
        AND (s.next_error_ts IS NULL
             OR s.next_purchase_ts < s.next_error_ts)
    )
    SELECT user_id, a_id AS event_id, match_id, 'signup' AS stage, 0 AS seq,
           a_ts AS event_ts FROM m
    UNION ALL
    SELECT user_id, b_id, match_id, 'purchase', 1, b_ts FROM m
    """,
)
def cep_not_followed_by(spark, sf_dir):
    """Negative pattern (Pattern.java notFollowedBy:304): signup followed by
    purchase with NO error in between, SKIP TO NEXT ROW so every signup is
    evaluated independently. The negated stage consumes nothing and never
    appears in the output; the oracle derives the same pairs with
    forward-looking window minima."""
    t = load_tables(spark, sf_dir)
    pat = (
        Pattern.begin("signup").where(lambda r: r["event_type"] == "signup")
        .not_followed_by("err").where(lambda r: r["event_type"] == "error")
        .followed_by("purchase").where(lambda r: r["event_type"] == "purchase")
    )
    return cep_pattern(
        t["events"], pat, ["user_id"], "ts", "event_id",
        AfterMatchSkip.SKIP_TO_NEXT,
    )


@df_query(
    "stream_over_rows_bounded",
    oracle="""
    SELECT user_id, ts, value, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS frame_sum,
           COUNT(*) OVER w AS frame_cnt
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def stream_over_rows_bounded(spark, sf_dir):
    """ROWS-bounded streaming OVER (ProcTime/RowTimeRowsBoundedPreceding
    parity): trailing-5-rows sum and count per user, ring-buffer state of
    exactly the frame size. Full replay equals the batch ROWS window."""
    ev = stream_table(spark, sf_dir, "events")
    out = streaming_over(
        ev, ["user_id"], "ts", "value", ("rows", 5),
        [("sum", "frame_sum"), ("count", "frame_cnt")], ["event_id"],
        tiebreak_col="event_id",
    )
    return run_stream_to_df(out, "append")


@df_query(
    "stream_over_mixed_aggs",
    oracle="""
    SELECT user_id, ts, value, event_id,
           CAST(MIN(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS o_min,
           CAST(MAX(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS o_max,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE)
             / COUNT(value) OVER w AS o_avg,
           CAST(CAST(LAST_VALUE(value) OVER w AS DECIMAL(30,6)) AS DOUBLE)
             AS o_last,
           COUNT(*) OVER w AS o_cnt
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    """,
)
def stream_over_mixed_aggs(spark, sf_dir):
    """r12: streaming OVER with a MIXED aggregate list — MIN/MAX/AVG/
    LAST_VALUE/COUNT over one trailing-8-rows frame, the reference's
    multi-aggregate over operator (one generated AggsHandleFunction per
    SELECT item; OverWindowITCase.scala's mixed agg lists;
    Min/MaxWithRetractAggFunction retraction handled here by the ring
    buffer being the live frame). Full replay equals the batch window."""
    ev = stream_table(spark, sf_dir, "events")
    out = streaming_over(
        ev, ["user_id"], "ts", "value", ("rows", 8),
        [
            ("min", "o_min"), ("max", "o_max"), ("avg", "o_avg"),
            ("last_value", "o_last"), ("count", "o_cnt"),
        ],
        ["event_id"],
        tiebreak_col="event_id",
    )
    return run_stream_to_df(out, "append")


@df_query(
    "stream_over_range_unbounded",
    oracle="""
    SELECT user_id, ts, value, event_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS STRING)
             AS DOUBLE) AS cum_sum,
           COUNT(*) OVER w AS cum_cnt,
           CAST(MAX(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS cum_max
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def stream_over_range_unbounded(spark, sf_dir):
    """Streaming OVER with SQL's DEFAULT ORDER BY frame — RANGE UNBOUNDED
    PRECEDING, where rows sharing a timestamp aggregate together and
    share one result (RowTimeRangeUnboundedPrecedingFunction parity, the
    4th cell of the reference's rows/range × bounded/unbounded matrix).
    O(1) accumulator state per key; peer groups fire when the watermark
    seals their timestamp. Full replay equals the batch RANGE window."""
    ev = stream_table(spark, sf_dir, "events", watermark=("ts", "0 seconds"))
    out = streaming_over(
        ev, ["user_id"], "ts", "value", ("range", None),
        [("sum", "cum_sum"), ("count", "cum_cnt"), ("max", "cum_max")],
        ["event_id"],
        tiebreak_col="event_id",
    )
    return run_stream_to_df(out, "append")


@df_query(
    "stream_over_var_distinct",
    oracle="""
    SELECT user_id, ts, value, event_id,
           ((CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) *
                CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,12))) OVER w
                AS STRING) AS DOUBLE))
            - (CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS STRING)
                AS DOUBLE))
              * (CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS STRING)
                AS DOUBLE))
              / (CAST(COUNT(value) OVER w AS DOUBLE)))
           / (CAST(COUNT(value) OVER w AS DOUBLE)) AS o_var_pop,
           CASE WHEN CAST(COUNT(value) OVER w AS DOUBLE) < 2 THEN NULL
                ELSE SQRT(GREATEST(
                  ((CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) *
                       CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,12))) OVER w
                       AS STRING) AS DOUBLE))
                   - (CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w
                       AS STRING) AS DOUBLE))
                     * (CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w
                       AS STRING) AS DOUBLE))
                     / (CAST(COUNT(value) OVER w AS DOUBLE)))
                  / ((CAST(COUNT(value) OVER w AS DOUBLE)) - 1), 0)) END
             AS o_stddev_samp,
           COUNT(DISTINCT CAST(value AS DECIMAL(30,6))) OVER w AS o_distinct,
           CAST(CAST(LAG(value) OVER w AS DECIMAL(30,6)) AS DOUBLE) AS o_lag
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
    """,
)
def stream_over_var_distinct(spark, sf_dir):
    """r12+: streaming OVER over an UNBOUNDED PRECEDING frame with the
    rest of the reference's declarative aggregate set — VAR_POP /
    STDDEV_SAMP (the planner's decimal-exact sum/sum² variance rewrite,
    AggregateReduceFunctionsRule), COUNT(DISTINCT) (DistinctAccumulator
    MapState parity — here a persisted distinct-micros set) and LAG
    (LeadLagAggFunction — previous partition row from O(1) state). The
    unbounded frame exercises the persistent accumulators (the sum-of-
    squares exceeds int64 and persists as a decimal string). Full replay
    equals the batch window; NULL rows (first-row LAG, single-row sample
    stddev) are true NULLs."""
    ev = stream_table(spark, sf_dir, "events")
    out = streaming_over(
        ev, ["user_id"], "ts", "value", ("rows", None),
        [
            ("var_pop", "o_var_pop"), ("stddev_samp", "o_stddev_samp"),
            ("distinct_count", "o_distinct"), ("lag", "o_lag"),
        ],
        ["event_id"],
        tiebreak_col="event_id",
    )
    return run_stream_to_df(out, "append")


@df_query(
    "stream_semi_join",
    oracle="""
    SELECT v.user_id, v.ts, v.event_id, '+I' AS op
    FROM events v
    WHERE v.event_type = 'view'
      AND EXISTS (SELECT 1 FROM events p
                  WHERE p.event_type = 'purchase'
                    AND p.user_id = v.user_id)
    """,
)
def stream_semi_join(spark, sf_dir):
    """Streaming semi join (StreamingSemiAntiJoinOperator, semi mode): views
    by users who have purchased. Each qualifying view emits +I exactly once
    — at arrival if a purchase was already seen, else when the user's first
    purchase arrives — so the full-replay changelog equals the batch
    EXISTS-semijoin."""
    from flink_parent_spark.streaming.stateful import streaming_semi_anti_join

    ev = stream_table(spark, sf_dir, "events")
    out = streaming_semi_anti_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        ["user_id"],
        ["event_id"],
        "ts",
        anti=False,
        tiebreak_col="event_id",
    )
    return run_stream_to_df(out, "update")


@df_query(
    "stream_anti_join",
    oracle="""
    WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
         p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    no_earlier AS (
      SELECT v.user_id, v.ts, v.event_id FROM v
      WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND (p.ts < v.ts OR (p.ts = v.ts AND p.event_id < v.event_id)))
    )
    SELECT user_id, ts, event_id, '+I' AS op FROM no_earlier
    UNION ALL
    SELECT n.user_id, n.ts, n.event_id, '-D' AS op
    FROM no_earlier n
    WHERE EXISTS (SELECT 1 FROM p WHERE p.user_id = n.user_id)
    """,
)
def stream_anti_join(spark, sf_dir):
    """Streaming anti join (StreamingSemiAntiJoinOperator, anti mode): views
    with no purchase yet emit +I optimistically and are retracted (-D) when
    the user's first purchase arrives; views after that first purchase never
    emit. The oracle reconstructs the same changelog from event-time order."""
    from flink_parent_spark.streaming.stateful import streaming_semi_anti_join

    ev = stream_table(spark, sf_dir, "events")
    out = streaming_semi_anti_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        ["user_id"],
        ["event_id"],
        "ts",
        anti=True,
        tiebreak_col="event_id",
    )
    return run_stream_to_df(out, "update")


@df_query(
    "cep_followed_by_any",
    oracle="""
    WITH pairs AS (
      SELECT s.user_id, s.event_id AS a_id, s.ts AS a_ts,
             p.event_id AS b_id, p.ts AS b_ts,
             ROW_NUMBER() OVER (PARTITION BY s.user_id
                                ORDER BY s.ts, s.event_id, p.ts, p.event_id) - 1
               AS match_id
      FROM events s JOIN events p
        ON s.user_id = p.user_id
      WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
        AND (p.ts > s.ts OR (p.ts = s.ts AND p.event_id > s.event_id))
        AND p.ts <= s.ts + INTERVAL '1' HOUR
    )
    SELECT user_id, a_id AS event_id, match_id, 'signup' AS stage,
           0 AS seq, a_ts AS event_ts FROM pairs
    UNION ALL
    SELECT user_id, b_id, match_id, 'purchase', 1, b_ts FROM pairs
    """,
)
def cep_followed_by_any(spark, sf_dir):
    """followedByAny (Pattern.java:322): every purchase within an hour of a
    signup forms its own match — the non-deterministic branch-per-event
    contiguity, vs followed_by's commit-to-first. Oracle: the full pair set
    with match ordinals in enumeration order."""
    t = load_tables(spark, sf_dir)
    pat = (
        Pattern.begin("signup")
        .where(lambda r: r["event_type"] == "signup")
        .followed_by_any("purchase")
        .where(lambda r: r["event_type"] == "purchase")
        .within(dt.timedelta(hours=1))
    )
    return cep_pattern(
        t["events"], pat, ["user_id"], "ts", "event_id", AfterMatchSkip.NO_SKIP
    )


@df_query(
    "stream_temporal_proctime_join",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      FROM events WHERE event_type IN ('view', 'purchase')
    ), tagged AS (
      SELECT user_id, ts, event_id, value, is_p,
             LAST_VALUE(CASE WHEN is_v = 1 THEN event_id END IGNORE NULLS)
               OVER w AS view_id,
             LAST_VALUE(CASE WHEN is_v = 1 THEN value END IGNORE NULLS)
               OVER w AS view_value
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, ts, event_id, value AS purchase_value,
           view_id, view_value
    FROM tagged WHERE is_p = 1
    """,
)
def stream_temporal_proctime_join(spark, sf_dir):
    """Processing-time temporal join (TemporalProcessTimeJoinOperator):
    each purchase joins the user's CURRENT latest view at the moment it is
    processed — nulls before the first view (left temporal join). State is
    one right row per key. Oracle reconstructs the same 'latest version so
    far' with an IGNORE NULLS running window over the merged event order."""
    from flink_parent_spark.streaming.stateful import (
        streaming_temporal_proctime_join,
    )

    ev = stream_table(spark, sf_dir, "events")
    out = streaming_temporal_proctime_join(
        ev.filter(F.col("event_type") == "purchase").withColumnRenamed(
            "value", "purchase_value"
        ),
        ev.filter(F.col("event_type") == "view"),
        ["user_id"],
        ["purchase_value"],
        {"view_id": "event_id", "view_value": "value"},
        "ts",
        tiebreak_col="event_id",
        how="left",
    )
    return run_stream_to_df(out, "update")


@df_query(
    "changelog_source_normalize",
    oracle="""
    WITH src AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'error' THEN '-D' ELSE '+U' END AS op
      FROM events WHERE event_type IN ('signup', 'view', 'error')
    ), pos AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS rn
      FROM src
    ), st AS (
      SELECT *,
             MAX(CASE WHEN op = '+U' THEN rn END) OVER w AS last_u,
             MAX(CASE WHEN op = '-D' THEN rn END) OVER w AS last_d
      FROM pos
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), joined AS (
      SELECT s.user_id, s.ts, s.event_id, s.value, s.op,
             p.value AS prev_val,
             (s.last_u IS NOT NULL
              AND (s.last_d IS NULL OR s.last_u > s.last_d)) AS prev_exists
      FROM st s LEFT JOIN pos p
        ON p.user_id = s.user_id AND p.rn = s.last_u
    )
    SELECT user_id, ts, event_id, prev_val AS value,
           '-U' AS __rowkind, 0 AS emit_sub
    FROM joined WHERE op = '+U' AND prev_exists
    UNION ALL
    SELECT user_id, ts, event_id, value,
           CASE WHEN prev_exists THEN '+U' ELSE '+I' END, 1
    FROM joined WHERE op = '+U'
    UNION ALL
    SELECT user_id, ts, event_id, prev_val, '-D', 1
    FROM joined WHERE op = '-D' AND prev_exists
    """,
)
def changelog_source_normalize(spark, sf_dir):
    """Upsert/changelog SOURCE ingestion (ChangelogSourceITCase semantics;
    runtime ChangelogNormalizeOperator): a foreign RowKind-tagged stream —
    signups/views as +U upserts of the user's value, errors as -D deletes —
    is normalized against per-key state into a well-formed changelog:
    +I on first version, -U/+U pairs on change, -D only for present keys.
    The oracle reconstructs the same emissions with last-upsert /
    last-delete window bookkeeping."""
    from flink_parent_spark.streaming.changelog import changelog_normalize

    ev = stream_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "view", "error")
    )
    tagged = ev.withColumn(
        "__rowkind",
        F.when(F.col("event_type") == "error", F.lit("-D")).otherwise(F.lit("+U")),
    )
    out = changelog_normalize(
        tagged, ["user_id"], "ts", ["value"], tiebreak_col="event_id"
    )
    return run_stream_to_df(out, "update")


@df_query(
    "stream_session_dynamic_gap",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN event_type = 'purchase' THEN 3600 ELSE 900 END AS gap_s,
             epoch_us(ts) AS ts_us
      FROM events
    ), marked AS (
      SELECT *,
             CASE WHEN MAX(ts_us + CAST(gap_s AS BIGINT) * 1000000) OVER w
                    IS NULL
                  OR ts_us >= MAX(ts_us + CAST(gap_s AS BIGINT) * 1000000)
                    OVER w
             THEN 1 ELSE 0 END AS is_new
      FROM g
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, ts_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, ts_us
                                  ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           make_timestamp(MAX(ts_us + CAST(gap_s AS BIGINT) * 1000000))
             AS session_end,
           COUNT(*) AS n, {dsum}
    FROM sess GROUP BY user_id, sid
    """.format(dsum="CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value"),
)
def stream_session_dynamic_gap(spark, sf_dir):
    """STREAMING session windows with a per-element dynamic gap
    (SessionWindows.withDynamicGap): Spark's native session_window accepts
    a gap expression, so the plan is the stock streaming session
    aggregation — watermark-merged state, no custom operator. Full replay
    must equal the batch merge scan (session end = max over members of
    ts + its own gap)."""
    ev = stream_table(spark, sf_dir, "events", watermark=("ts", "10 minutes"))
    gap = F.when(F.col("event_type") == "purchase", F.lit("1 hour")).otherwise(
        F.lit("15 minutes")
    )
    agg = ev.groupBy(F.session_window("ts", gap), "user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
    )
    out = run_stream_to_df(agg, "complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n",
        "sum_value",
    )


@df_query(
    "stream_split_distinct_agg",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def stream_split_distinct_agg(spark, sf_dir):
    """Streaming COUNT(DISTINCT) via the split-aggregate rewrite
    (SplitAggregateITCase / incremental distinct-agg semantics): Structured
    Streaming has no native streaming distinct aggregate, so the query
    splits into a keyed dedup state op (dropDuplicates on the distinct key
    pair) feeding a downstream count — exactly the two-level split the
    reference's PartialFinalType rewrite produces. Count(*) rides along
    from a parallel unsplit branch."""
    ev = stream_table(spark, sf_dir, "events")
    distinct_users = (
        ev.select("event_type", "user_id")
        .dropDuplicates(["event_type", "user_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
    )
    totals = ev.groupBy("event_type").agg(F.count("*").alias("n_events"))
    d = run_stream_to_df(distinct_users, "complete")
    t = run_stream_to_df(totals, "complete")
    return d.join(t, "event_type").select("event_type", "n_users", "n_events")


@df_query(
    "stream_window_join",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', v.ts) AS window_start,
           v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND time_bucket(INTERVAL '1 hour', v.ts) =
         time_bucket(INTERVAL '1 hour', p.ts)
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def stream_window_join(spark, sf_dir):
    """Streaming WINDOW JOIN (the reference's window-join operator over two
    keyed streams): views and purchases co-assigned to the same tumbling
    hour join per (window, user). Built-in stream-stream equi-join on the
    window struct + key — state bounded by the window via the watermarks."""
    v = stream_table(spark, sf_dir, "events", watermark=("ts", "10 minutes"))
    p = stream_table(spark, sf_dir, "events", watermark=("ts", "10 minutes"))
    vw = (
        v.filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.window("ts", "1 hour").alias("w"))
    )
    pw = (
        p.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"), F.window("ts", "1 hour").alias("pw"))
    )
    j = vw.join(pw, (F.col("user_id") == F.col("p_user")) & (F.col("w") == F.col("pw")))
    out = run_stream_to_df(j, "append")
    return out.select(
        F.col("w.start").alias("window_start"), "user_id", "view_id", "purchase_id"
    )


@df_query(
    "stream_retract_join",
    oracle="""
    WITH lastv AS (
      SELECT user_id, value AS view_value FROM (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'view') t
      WHERE rn = 1
    ), lastp AS (
      SELECT user_id, value AS purchase_value FROM (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase') t
      WHERE rn = 1
    )
    SELECT l.user_id, l.view_value, p.purchase_value
    FROM lastv l JOIN lastp p ON l.user_id = p.user_id
    """,
)
def stream_retract_join(spark, sf_dir):
    """Retraction-consuming streaming JOIN (two-input StreamingJoinOperator
    over changelog inputs): two keep-last changelogs — the user's latest
    view and latest purchase — join with full retraction semantics (+I
    deltas on accumulate, -D on retract against the other side's live
    state). Spark allows one applyInPandasWithState per streaming query, so
    the changelog producers and the joining consumer run as separate
    streaming stages chained through materialization (the foreachBatch
    composition model this changelog layer documents); each stage is a real
    streaming query. The net of the emitted changelog (sum of +1/-1 per
    joined row) must equal the batch join of the two final snapshots."""
    import os
    import shutil
    import tempfile

    from flink_parent_spark.streaming.changelog import (
        changelog_keep_last,
        retract_join,
        rowkind_sign,
    )

    # stage 1: produce both keep-last changelogs (streaming), materialize
    base = os.path.join(tempfile.gettempdir(), "fps_retract_join")
    shutil.rmtree(base, ignore_errors=True)
    ev = stream_table(spark, sf_dir, "events")
    for side, etype, vcol in (
        ("l", "view", "view_value"),
        ("r", "purchase", "purchase_value"),
    ):
        cl = changelog_keep_last(
            ev.filter(F.col("event_type") == etype).withColumnRenamed(
                "value", vcol
            ),
            ["user_id"],
            "ts",
            [vcol],
        )
        run_stream_to_df(cl, "append").write.parquet(f"{base}/{side}")

    # stage 2: re-stream the changelogs into the retraction-aware join
    lcl = spark.readStream.schema(
        "user_id long, ts timestamp, view_value double, __rowkind string"
    ).parquet(f"{base}/l")
    rcl = spark.readStream.schema(
        "user_id long, ts timestamp, purchase_value double, __rowkind string"
    ).parquet(f"{base}/r")
    joined = retract_join(
        lcl, rcl, ["user_id"], ["view_value"], ["purchase_value"], "ts"
    )
    out = run_stream_to_df(joined, "update")
    net = (
        out.groupBy("user_id", "view_value", "purchase_value")
        .agg(F.sum(rowkind_sign()).alias("__net"))
        .filter(F.col("__net") > 0)
    )
    return net.select("user_id", "view_value", "purchase_value")


@df_query(
    "match_recognize_within",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             LEAD(event_type) OVER w AS nt, LEAD(event_id) OVER w AS nid,
             LEAD(ts) OVER w AS nts
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), m AS (
      SELECT user_id, event_id, ts, nid, nts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) - 1 AS match_id
      FROM seq
      WHERE event_type = 'view' AND nt = 'purchase'
        AND nts <= ts + INTERVAL '5' MINUTE
    )
    SELECT user_id, event_id, match_id, 'V' AS stage, 0 AS seq,
           ts AS event_ts FROM m
    UNION ALL
    SELECT user_id, nid, match_id, 'P', 1, nts FROM m
    """,
)
def match_recognize_within(spark, sf_dir):
    """WITHIN clause on a strict-contiguity pair: an adjacent view→purchase
    only matches when the purchase lands inside the 5-minute window of the
    view (Pattern.java:245 `within` surfaced through the SQL clause;
    MatchCodeGenerator.scala's interval handling). Adjacent single-row
    stages cannot overlap, so the LEAD-pair oracle is exact."""
    from flink_parent_spark.streaming.match_recognize_sql import match_recognize_sql

    t = load_tables(spark, sf_dir)
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      PATTERN (V P)
      WITHIN INTERVAL '5' MINUTE
      DEFINE V AS V.event_type = 'view',
             P AS P.event_type = 'purchase'
    """
    return match_recognize_sql(t["events"], clause, "event_id")


@df_query(
    "match_recognize_skip_to_var",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, value,
             LEAD(value) OVER w AS nv, LEAD(event_id) OVER w AS nid,
             LEAD(ts) OVER w AS nts
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), m AS (
      SELECT user_id, event_id, ts, nid, nts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) - 1 AS match_id
      FROM seq WHERE value >= 50 AND nv >= 50
    )
    SELECT user_id, event_id, match_id, 'A' AS stage, 0 AS seq,
           ts AS event_ts FROM m
    UNION ALL
    SELECT user_id, nid, match_id, 'B', 1, nts FROM m
    """,
)
def match_recognize_skip_to_var(spark, sf_dir):
    """AFTER MATCH SKIP TO LAST B: the B row of a match is re-scanned as
    the next potential A, so a run of k consecutive high-value rows yields
    k-1 OVERLAPPING matches (SKIP PAST LAST ROW would halve them) —
    aftermatch/SkipToLastStrategy.java semantics through the SQL clause.
    The oracle is every adjacent high-high pair, which is exactly the
    overlap this strategy permits."""
    from flink_parent_spark.streaming.match_recognize_sql import match_recognize_sql

    t = load_tables(spark, sf_dir)
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      AFTER MATCH SKIP TO LAST B
      PATTERN (A B)
      DEFINE A AS A.value >= 50,
             B AS B.value >= 50
    """
    return match_recognize_sql(t["events"], clause, "event_id")


@df_query(
    "match_recognize_permute",
    oracle="""
    WITH RECURSIVE o AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type IN ('view', 'purchase')
    ), nmax AS (
      SELECT user_id, MAX(rn) AS n FROM o GROUP BY user_id
    ), scan(user_id, pos, mid) AS (
      SELECT user_id, 1, 0 FROM nmax
      UNION ALL
      SELECT s.user_id,
             CASE WHEN a.event_type <> b.event_type
                  THEN s.pos + 2 ELSE s.pos + 1 END,
             CASE WHEN a.event_type <> b.event_type
                  THEN s.mid + 1 ELSE s.mid END
      FROM scan s
      JOIN nmax x ON x.user_id = s.user_id AND s.pos < x.n
      JOIN o a ON a.user_id = s.user_id AND a.rn = s.pos
      JOIN o b ON b.user_id = s.user_id AND b.rn = s.pos + 1
    ), matches AS (
      SELECT s.user_id, s.pos, s.mid AS match_id
      FROM scan s
      JOIN o a ON a.user_id = s.user_id AND a.rn = s.pos
      JOIN o b ON b.user_id = s.user_id AND b.rn = s.pos + 1
      WHERE a.event_type <> b.event_type
    )
    SELECT m.user_id, e.event_id, m.match_id,
           CASE e.event_type WHEN 'view' THEN 'V' ELSE 'P' END AS stage,
           CAST(e.rn - m.pos AS INT) AS seq, e.ts AS event_ts
    FROM matches m
    JOIN o e ON e.user_id = m.user_id AND e.rn IN (m.pos, m.pos + 1)
    """,
)
def match_recognize_permute(spark, sf_dir):
    """PATTERN (PERMUTE (V, P)): a view and a purchase on adjacent rows in
    EITHER order — Calcite expands PERMUTE to the leftmost-preferred
    alternation (V P | P V); the engine tries the variants per position via
    find_matches_any and SKIP PAST LAST ROW consumes both rows. The input
    is restricted to view/purchase rows so the oracle's sequential
    greedy-pairing scan (a per-user recursive CTE) is exact."""
    from flink_parent_spark.streaming.match_recognize_sql import match_recognize_sql

    t = load_tables(spark, sf_dir)
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      PATTERN (PERMUTE (V, P))
      DEFINE V AS V.event_type = 'view',
             P AS P.event_type = 'purchase'
    """
    ev = t["events"].filter(F.col("event_type").isin("view", "purchase"))
    return match_recognize_sql(ev, clause, "event_id")


@df_query(
    "match_recognize_subset_measures",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), v AS (
      SELECT a.user_id, a.rn, a.event_id,
             COALESCE((SELECT MIN(x.rn) FROM o x
                       WHERE x.user_id = a.user_id AND x.rn > a.rn
                         AND x.event_type <> 'purchase'),
                      (SELECT MAX(y.rn) + 1 FROM o y
                       WHERE y.user_id = a.user_id)) AS stop
      FROM o a WHERE a.event_type = 'view'
    ), m AS (
      SELECT user_id, rn, event_id, stop,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) - 1
               AS match_id
      FROM v WHERE stop > rn + 1
    )
    SELECT m.user_id, m.match_id, m.event_id AS first_view,
           m.stop - m.rn AS n_rows, e.ts AS last_ts
    FROM m JOIN o e ON e.user_id = m.user_id AND e.rn = m.stop - 1
    """,
)
def match_recognize_subset_measures(spark, sf_dir):
    """SUBSET U = (V, P) with ONE ROW PER MATCH: union-variable navigation
    in MEASURES (COUNT(U.*) spans the view row and the whole greedy
    purchase run; LAST(U.ts) is the final matched row's timestamp) —
    Calcite's SUBSET clause as wired through StreamExecMatch.scala. The
    oracle finds each view immediately followed by >=1 purchases and
    measures the maximal run."""
    from flink_parent_spark.streaming.match_recognize_sql import match_recognize_sql

    t = load_tables(spark, sf_dir)
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      MEASURES FIRST(V.event_id) AS first_view,
               COUNT(U.*) AS n_rows,
               LAST(U.ts) AS last_ts
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (V P+)
      SUBSET U = (V, P)
      DEFINE V AS V.event_type = 'view',
             P AS P.event_type = 'purchase'
    """
    return match_recognize_sql(t["events"], clause, "event_id")


@df_query(
    "stream_topn_updatable",
    oracle="""
    WITH latest AS (
      SELECT event_type, user_id, value, event_id FROM (
        SELECT event_type, user_id, value, event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type, user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t
      WHERE rn = 1
    )
    SELECT event_type, user_id, value, event_id, CAST(rank AS INT) AS rank
    FROM (
      SELECT event_type, user_id, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, user_id) AS rank
      FROM latest) x
    WHERE rank <= 3
    """,
)
def stream_topn_updatable(spark, sf_dir):
    """Updatable streaming Top-N (UpdatableTopNFunction.java): events are
    an upsert stream keyed by (event_type, user_id) — each arrival replaces
    the user's value in place, no retraction round-trip — and the top-3
    users per type re-rank on change, emitting only changed assignments.
    The oracle ranks each user's LATEST value per type."""
    from flink_parent_spark.streaming.stateful import streaming_updatable_top_n

    ev = stream_table(spark, sf_dir, "events")
    tn = streaming_updatable_top_n(
        ev, ["event_type"], "user_id", "value", 3, ["event_id"],
        arrival_cols=("ts", "event_id"),
    )
    return run_stream_to_df(tn, "update")


@df_query(
    "stream_match_recognize_sql",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             LEAD(event_type) OVER w AS nt, LEAD(event_id) OVER w AS nid,
             LEAD(ts) OVER w AS nts
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), m AS (
      SELECT user_id, event_id, ts, nid, nts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) - 1 AS match_id
      FROM seq
      WHERE event_type = 'view' AND nt = 'purchase'
        AND nts <= ts + INTERVAL '5' MINUTE
    )
    SELECT user_id, event_id, match_id, 'V' AS stage, 0 AS seq,
           ts AS event_ts FROM m
    UNION ALL
    SELECT user_id, nid, match_id, 'P', 1, nts FROM m
    """,
)
def stream_match_recognize_sql(spark, sf_dir):
    """MATCH_RECOGNIZE on a STREAM: the clause parses identically but the
    match runs in the watermark-held streaming CEP operator
    (StreamExecMatch.scala's deployment mode) — rows seal at the
    watermark, matches flush via the event-time timeout, and a full replay
    must equal the batch clause / SQL oracle (same result set as
    match_recognize_within)."""
    from flink_parent_spark.streaming.match_recognize_sql import match_recognize_sql

    ev = stream_table(spark, sf_dir, "events", watermark=("ts", "0 seconds"))
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      PATTERN (V P)
      WITHIN INTERVAL '5' MINUTE
      DEFINE V AS V.event_type = 'view',
             P AS P.event_type = 'purchase'
    """
    out = match_recognize_sql(ev, clause, "event_id", streaming=True)
    return run_stream_to_df(out, "update")


@df_query(
    "datastream_running_reduce",
    oracle="""
    SELECT user_id, event_id,
           -- trunc(): DuckDB's double->BIGINT cast rounds, Spark's
           -- truncates; make both truncate
           CAST(SUM(CAST(trunc(value * 100) AS BIGINT))
                OVER (PARTITION BY user_id
                      ORDER BY event_id) AS BIGINT) AS cents
    FROM events
    """,
)
def datastream_running_reduce(spark, sf_dir):
    """DataStream API veneer under the oracle: keyed running reduce emits
    one output PER INPUT ELEMENT folding in arrival order
    (KeyedStream.reduce:372). Arrival = event_id (injected as the ordinal)
    so the SQL running-sum window reproduces the fold exactly; amounts are
    truncated to integer cents so the accumulation is engine-exact."""
    from flink_parent_spark.api.datastream import StreamExecutionEnvironment

    t = load_tables(spark, sf_dir)
    ev = (
        t["events"]
        .select(
            "user_id",
            "event_id",
            (F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .withColumn("__arrival", F.col("event_id"))
    )
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    ds = env.from_data_frame(ev)
    out = ds.key_by("user_id").reduce(
        lambda acc, cur: {
            "user_id": cur["user_id"],
            "event_id": cur["event_id"],
            "cents": acc["cents"] + cur["cents"],
        }
    )
    return out.to_df()


@df_query(
    "stream_pipeline_curation",
    oracle=r"""
    WITH kept AS (
      SELECT md5(text) AS digest, MIN(doc_id) AS doc_id
      FROM documents GROUP BY md5(text)
    ), tok AS (
      SELECT k.doc_id,
             len(string_split_regex(trim(d.text), '\s+')) AS n_tokens
      FROM kept k JOIN documents d ON d.doc_id = k.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens
    FROM tok WHERE n_tokens >= 20
    """,
)
def stream_pipeline_curation(spark, sf_dir):
    """Streaming training-corpus curation: documents arrive as a stream,
    exact-dedup keep-first on the content digest (stateful, one row of
    state per distinct digest) feeds a token-count quality gate — the
    streaming half of pipeline_corpus_curation. Full replay must equal the
    batch keep-first (min doc_id per digest) + filter."""
    from flink_parent_spark.datapipe.text import token_count
    from flink_parent_spark.streaming.core import run_stream_to_df, stream_table
    from flink_parent_spark.streaming.stateful import streaming_dedup

    docs = stream_table(spark, sf_dir, "documents").withColumn(
        "digest", F.md5(F.col("text"))
    )
    kept = streaming_dedup(docs, ["digest"], "doc_id", ["text"], keep="first")
    out = kept.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    ).filter(F.col("n_tokens") >= 20)
    return run_stream_to_df(out, "update")


@df_query(
    "sql_stream_topn_rank",
    oracle="""
    SELECT event_type, value, event_id, user_id, CAST(rn AS INT) AS rn
    FROM (
      SELECT event_type, value, event_id, user_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rn
      FROM events) t
    WHERE rn <= 3
    """,
)
def sql_stream_topn_rank(spark, sf_dir):
    """The rank-pattern SQL idiom on a STREAMING table, recognized by the
    planner rule (streaming/rank_recognition.py — FlinkLogicalRankRule /
    StreamExecRank parity) and routed to the stateful Top-N operator; the
    statement itself is the batch oracle. A plain row-number window over an
    unbounded stream is rejected by both engines, so recognition is what
    makes this statement runnable at all."""
    from flink_parent_spark.api.table_env import TableEnvironment  # noqa: PLC0415

    t_env = TableEnvironment(spark, streaming=True)
    ev = stream_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_rank_src")
    tbl = t_env.sql_query(
        """
        SELECT event_type, value, event_id, user_id, rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY value DESC, event_id) AS rn
          FROM events_rank_src) WHERE rn <= 3
        """
    )
    out = run_stream_to_df(tbl.to_df(), "update")
    return out.withColumn("rn", F.col("rn").cast("int"))


@df_query(
    "stream_match_recognize_one_row",
    oracle="""
    WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    pairs AS (
      SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
             p.event_id AS purchase_id, p.value AS purchase_value,
             ROW_NUMBER() OVER (PARTITION BY v.user_id, v.event_id
                                ORDER BY p.ts, p.event_id) AS rn
      FROM v JOIN p ON v.user_id = p.user_id
       AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL '10' MINUTE
    )
    SELECT user_id,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY view_ts, view_id) - 1 AS match_id,
           view_id, purchase_id, purchase_value
    FROM pairs WHERE rn = 1
    """,
)
def stream_match_recognize_one_row(spark, sf_dir):
    """STREAMING MATCH_RECOGNIZE with ONE ROW PER MATCH + MEASURES and
    {- -} exclusion (the round-5 verdict's missing output modes,
    StreamExecMatch.scala:68 runs the full clause set on streams): the
    single measures row is emitted when the match finalizes under the
    watermark; a full replay equals the batch clause's oracle
    (same result set as match_recognize_measures)."""
    from flink_parent_spark.streaming.match_recognize_sql import match_recognize_sql

    ev = stream_table(spark, sf_dir, "events", watermark=("ts", "0 seconds"))
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      MEASURES FIRST(V.event_id) AS view_id,
               LAST(P.event_id) AS purchase_id,
               LAST(P.value) AS purchase_value
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (V {- X*? -} P)
      WITHIN INTERVAL '10' MINUTE
      DEFINE V AS V.event_type = 'view',
             P AS P.event_type = 'purchase'
    """
    out = match_recognize_sql(ev, clause, "event_id", streaming=True)
    return run_stream_to_df(out, "update")


@df_query(
    "stream_retract_chain",
    oracle="""
    WITH purch AS (
      SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), lastv AS (
      SELECT user_id, value AS view_value FROM (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'view') t
      WHERE rn = 1
    ), joined AS (
      SELECT p.user_id, p.total, v.view_value
      FROM purch p JOIN lastv v ON p.user_id = v.user_id
    )
    SELECT user_id, total, view_value, rank FROM (
      SELECT user_id, total, view_value,
             CAST(ROW_NUMBER() OVER (ORDER BY total DESC, user_id) AS INT)
               AS rank
      FROM joined) t
    WHERE rank <= 5
    """,
)
def stream_retract_chain(spark, sf_dir):
    """THREE-STAGE retraction chain — the §1.4 multi-level changelog story
    end-to-end (GroupAggFunction.java:121 emitting -U/+U downstream ->
    StreamingJoinOperator consuming both changelogs ->
    RetractableTopNFunction re-ranking on every delta):

      1. retraction-EMITTING group agg: running SUM of each user's
         purchases, emitting +I then -U(old)/+U(new) per input row;
      2. retract join of that agg changelog with the keep-last changelog
         of each user's latest view value;
      3. retractable Top-5 users by purchase total over the joined
         changelog.

    Stages chain through materialization (Spark allows one
    applyInPandasWithState per streaming query — the documented
    foreachBatch composition model); each stage is a real streaming
    query. The full-replay result must equal the batch oracle: per-user
    purchase totals joined to latest views, top-5 by total."""
    import os
    import tempfile
    import uuid

    from flink_parent_spark.streaming.changelog import (
        changelog_keep_last,
        retract_join,
        streaming_group_agg_changelog,
    )
    from flink_parent_spark.streaming.stateful import streaming_retract_top_n

    base = os.path.join(
        tempfile.gettempdir(), f"fps_retract_chain_{uuid.uuid4().hex[:8]}"
    )
    ev = stream_table(spark, sf_dir, "events").withColumn(
        "__ord",
        (F.unix_micros("ts") - F.lit(1_704_067_200_000_000)) * F.lit(1_000_000)
        + F.col("event_id"),
    )

    # stage 1: agg changelog of purchase totals per user (+I / -U,+U trace)
    agg_cl = streaming_group_agg_changelog(
        ev.filter(F.col("event_type") == "purchase"),
        ["user_id"], "value", "__ord", sum_alias="total",
    ).withColumnRenamed("__seq", "__ord")
    run_stream_to_df(agg_cl, "append").write.parquet(f"{base}/agg")

    # keep-last changelog of each user's latest view value
    view_cl = changelog_keep_last(
        ev.filter(F.col("event_type") == "view").withColumnRenamed(
            "value", "view_value"
        ),
        ["user_id"], "__ord", ["view_value"],
    )
    run_stream_to_df(view_cl, "append").write.parquet(f"{base}/view")

    # stage 2: retraction-consuming join of the two changelogs
    lcl = spark.readStream.schema(
        "user_id long, n bigint, total double, __rowkind string, __ord bigint"
    ).parquet(f"{base}/agg")
    rcl = spark.readStream.schema(
        "user_id long, __ord bigint, view_value double, __rowkind string"
    ).parquet(f"{base}/view")
    joined = retract_join(
        lcl, rcl, ["user_id"], ["total"], ["view_value"], "__ord",
        seq_col="__seq",
    )
    run_stream_to_df(joined, "update").write.parquet(f"{base}/joined")

    # stage 3: retractable Top-5 users by total over the joined changelog.
    # __seq restores the per-key causal order the parquet hop loses
    # (Flink's network channels guarantee it implicitly).
    jcl = spark.readStream.schema(
        "user_id long, total double, view_value double, __rowkind string, "
        "__seq bigint"
    ).parquet(f"{base}/joined")
    tn = streaming_retract_top_n(
        jcl.withColumn("__g", F.lit(1)),
        ["__g"], "total", 5, ["user_id", "view_value"],
        descending=True, tiebreak_col="user_id", sequence_col="__seq",
    )
    out = run_stream_to_df(tn, "update")
    return out.select("user_id", "total", "view_value", "rank")


@df_query(
    "match_recognize_agg_measures",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, value, event_type,
             ROW_NUMBER() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), v AS (
      SELECT user_id, event_id, ts, value, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn)
               AS island
      FROM seq WHERE event_type = 'view'
    ), islands AS (
      SELECT user_id, island, MIN(rn) AS srn, MAX(rn) AS ern,
             CAST(COUNT(*) AS BIGINT) AS n_views,
             arg_min(event_id, rn) AS first_view,
             CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS STRING)
                  AS DOUBLE) AS sum_value
      FROM v GROUP BY user_id, island
    ), matches AS (
      SELECT i.*, b.event_id AS purchase_id
      FROM islands i
      JOIN seq b ON b.user_id = i.user_id AND b.rn = i.ern + 1
      WHERE b.event_type = 'purchase'
    )
    SELECT m.user_id,
           ROW_NUMBER() OVER (PARTITION BY m.user_id ORDER BY m.srn) - 1
             AS match_id,
           m.first_view, m.n_views,
           sl.event_id AS second_last_view,
           m.sum_value,
           m.sum_value / m.n_views AS avg_value,
           m.purchase_id
    FROM matches m
    LEFT JOIN v sl ON sl.user_id = m.user_id AND sl.rn = m.ern - 1
                  AND m.ern - 1 >= m.srn
    """,
)
def match_recognize_agg_measures(spark, sf_dir):
    """Aggregates + logical offsets in MATCH_RECOGNIZE MEASURES
    (MatchRecognizeITCase testAggregates:578 / testLogicalOffsets:372
    surface): SUM/AVG over the quantified A-run's row set, COUNT(A.*),
    LAST(A.event_id, 1) offset navigation (NULL on 1-row runs), and a
    bare B-ref (final LAST). The A+ loop is possessive-greedy
    (NFACompiler.updateWithGreedyCondition parity), so each match binds
    one maximal view-run immediately followed by a purchase; the oracle
    rebuilds exactly those islands. Float SUM/AVG follow the engine's
    decimal-accumulation contract (quantized-micros sum, one
    decimal->string->double conversion)."""
    from flink_parent_spark.streaming.match_recognize_sql import (  # noqa: PLC0415
        match_recognize_sql,
    )

    t = load_tables(spark, sf_dir)
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      MEASURES
        FIRST(A.event_id) AS first_view,
        COUNT(A.*) AS n_views,
        LAST(A.event_id, 1) AS second_last_view,
        SUM(A.value) AS sum_value,
        AVG(A.value) AS avg_value,
        B.event_id AS purchase_id
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A+ B)
      DEFINE A AS A.event_type = 'view',
             B AS B.event_type = 'purchase'
    """
    return match_recognize_sql(t["events"], clause, "event_id")


@df_query(
    "match_recognize_define_running_agg",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             event_type
      FROM events
    ), v AS (
      SELECT user_id, event_id, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn)
               AS island
      FROM seq WHERE event_type = 'view'
    ), chunked AS (
      SELECT user_id, event_id, rn, island,
             (ROW_NUMBER() OVER (PARTITION BY user_id, island ORDER BY rn)
              - 1) // 3 AS chunk
      FROM v
    ), m AS (
      SELECT user_id, island, chunk, MIN(rn) AS srn,
             arg_min(event_id, rn) AS first_id,
             arg_max(event_id, rn) AS last_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM chunked GROUP BY user_id, island, chunk
    )
    SELECT user_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY srn) - 1
             AS match_id,
           first_id, last_id, n_rows
    FROM m
    """,
)
def match_recognize_define_running_agg(spark, sf_dir):
    """A RUNNING aggregate in DEFINE (MatchRecognizeITCase
    testAggregates:578 `A AS SUM(A.price) < 6` semantics — the row under
    test counts as the defining variable's last row): COUNT(A.*) <= 3
    caps the possessive view-run at 3 rows, so AFTER MATCH SKIP PAST
    LAST ROW chunks every view-island into ceil(len/3) matches. The
    oracle chunks the same islands arithmetically."""
    from flink_parent_spark.streaming.match_recognize_sql import (  # noqa: PLC0415
        match_recognize_sql,
    )

    t = load_tables(spark, sf_dir)
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      MEASURES
        FIRST(A.event_id) AS first_id,
        LAST(A.event_id) AS last_id,
        COUNT(A.*) AS n_rows
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A+)
      DEFINE A AS A.event_type = 'view' AND COUNT(A.*) <= 3
    """
    return match_recognize_sql(t["events"], clause, "event_id")


@df_query(
    "match_recognize_udf_define",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, value,
             LEAD(value) OVER w AS nv, LEAD(event_id) OVER w AS nid
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) - 1 AS match_id,
           event_id AS a_id, nid AS b_id,
           GREATEST(value, nv) - LEAST(value, nv) AS span_v
    FROM seq
    WHERE value * 2 >= 100 AND nv * 2 < 100
    """,
)
def match_recognize_udf_define(spark, sf_dir):
    """Registered functions inside MATCH_RECOGNIZE expressions
    (MatchRecognizeITCase testUserDefinedFunctions:733): a scalar UDF in
    both DEFINE conditions and an aggregate UDF over a SUBSET union
    variable in MEASURES. A-rows (doubled value >= 100) can never also
    qualify as B (< 100), so matches cannot overlap and the oracle is an
    adjacent-pair filter."""
    from flink_parent_spark.streaming.match_recognize_sql import (  # noqa: PLC0415
        match_recognize_sql,
    )

    t = load_tables(spark, sf_dir)
    udfs = {
        "doubled": ("scalar", lambda v: None if v is None else v * 2, "double"),
        "spanv": (
            "agg",
            lambda rows: (
                max(r[0] for r in rows) - min(r[0] for r in rows)
                if rows
                else None
            ),
            "double",
        ),
    }
    clause = """
      PARTITION BY user_id
      ORDER BY ts
      MEASURES
        FIRST(A.event_id) AS a_id,
        B.event_id AS b_id,
        spanv(U.value) AS span_v
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B)
      SUBSET U = (A, B)
      DEFINE A AS doubled(A.value) >= 100,
             B AS doubled(B.value) < 100
    """
    return match_recognize_sql(t["events"], clause, "event_id", udfs=udfs)
