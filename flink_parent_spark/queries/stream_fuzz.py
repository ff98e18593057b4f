"""Seeded streaming-operator fuzz: random configs through the REAL
streaming engine, each oracle-checked against batch SQL.

The batch differential battery (`diff_grammar.py`) fuzzes SQL texts run
verbatim on Spark and DuckDB. This module extends the idea to the
STREAMING operators, where the property under test is the reference's
stream-batch unification contract (the blink planner compiles one
relational semantics to both modes; its stream ITCases assert exactly
this): a full replay of a finite stream through the stateful operator
must converge to the batch answer. Each entry draws a random
configuration (window sizes, slides, grouping keys, aggregate sets,
Top-N depths, changelog key/regroup combinations) from a pinned seed,
builds a genuine Structured Streaming pipeline (file replay →
watermark → stateful operator → memory sink, the same machinery as the
hand-written `stream_*` catalog entries), and registers a DuckDB oracle
generated from the SAME parameters.

Mirrored reference suites: runtime/stream/sql/{WindowAggregateITCase,
DeduplicateITCase, RankITCase, AggregateITCase} — those are
hand-enumerated; random composition checks the parameter combinations
nobody thought to enumerate.

Shapes (counts pinned; params drawn from `random.Random(seed)`):

- tumble  (3): TUMBLE group-window agg — size × keys × agg set
- hop     (2): HOP/sliding window agg — (size, slide) × keys
- topn    (3): append-only streaming Top-N — partition key × N
- latest  (2): keep-last changelog → retraction-consuming re-aggregate
               (stage-1 key × stage-2 regroup)
- gagg    (2): unbounded streaming group agg — keys × agg set
- session (2): session windows — gap × watermark × agg set
- cep     (3): two-stage strict-contiguity CEP — drawn event-type pairs
- ivjoin  (2): stream-stream interval join — type pair × window × bound

Determinism contract: sums go through the decimal-accumulation path
(order-independent), Top-N and keep-last tie-break on `event_id` /
`__ord` (globally unique), so every entry is value-exact vs the oracle.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from flink_parent_spark.queries.registry import dsum, register
from flink_parent_spark.streaming.core import run_stream_to_df, stream_table

_EPOCH_2024_MICROS = 1_704_067_200_000_000


def _key(rng: random.Random) -> "tuple[str, object, str]":
    """-> (sql_expr AS alias, deferred spark Column factory, alias).
    Column construction is deferred into the factory: registration runs
    at catalog-import time, before any SparkSession exists."""
    kind = rng.choice(["type", "bucket"])
    if kind == "type":
        return "event_type", lambda: F.col("event_type"), "event_type"
    k = rng.choice([3, 5, 7])
    return (
        f"user_id % {k} AS user_bucket",
        lambda k=k: (F.col("user_id") % k).alias("user_bucket"),
        "user_bucket",
    )


# deferred Column factories per aggregate tag (built inside run(), when a
# session exists)
_AGG_FACTORIES = {
    "n": lambda: F.count("*").alias("n"),
    "sum_value": lambda: F.sum(F.col("value").cast("decimal(30,6)"))
    .cast("double")
    .alias("sum_value"),
    "min_value": lambda: F.min("value").alias("min_value"),
    "max_value": lambda: F.max("value").alias("max_value"),
}


def _aggs(rng: random.Random) -> "tuple[list[str], list[str]]":
    """-> (oracle agg SQL fragments, agg tags into _AGG_FACTORIES);
    COUNT always present, the rest drawn."""
    sql = ["COUNT(*) AS n"]
    tags = ["n"]
    if rng.random() < 0.8:
        sql.append(dsum("value", "sum_value"))
        tags.append("sum_value")
    if rng.random() < 0.5:
        sql.append("MIN(value) AS min_value")
        tags.append("min_value")
    if rng.random() < 0.5:
        sql.append("MAX(value) AS max_value")
        tags.append("max_value")
    return sql, tags


def _register_tumble(i: int, rng: random.Random) -> None:
    minutes = rng.choice([15, 30, 60, 120, 180])
    wm = rng.choice(["5 minutes", "10 minutes", "30 minutes"])
    key_sql, key_col, key_alias = _key(rng)
    agg_sql, agg_tags = _aggs(rng)
    oracle = (
        f"SELECT time_bucket(INTERVAL '{minutes} minutes', ts) AS window_start, "
        f"{key_sql}, {', '.join(agg_sql)} FROM events GROUP BY 1, 2"
    )

    def run(spark, sf_dir, minutes=minutes, wm=wm, key_col=key_col,
            key_alias=key_alias, agg_tags=agg_tags):
        ev = stream_table(spark, sf_dir, "events", watermark=("ts", wm))
        ev = ev.withColumn(key_alias, key_col())
        agg = ev.groupBy(F.window("ts", f"{minutes} minutes"), key_alias).agg(
            *[_AGG_FACTORIES[t]() for t in agg_tags]
        )
        out = run_stream_to_df(agg, "complete")
        return out.select(
            F.col("window.start").alias("window_start"), key_alias, *agg_tags
        )

    register(f"streamfuzz_tumble_{i}", run, oracle)


def _register_hop(i: int, rng: random.Random) -> None:
    size_m, slide_m = rng.choice([(60, 30), (120, 30), (60, 15), (120, 60)])
    panes = size_m // slide_m
    key_sql, key_col, key_alias = _key(rng)
    agg_sql, agg_tags = _aggs(rng)
    oracle = (
        f"SELECT time_bucket(INTERVAL '{slide_m} minutes', ts) "
        f"- j * INTERVAL '{slide_m}' MINUTE AS window_start, "
        f"{key_sql}, {', '.join(agg_sql)} "
        f"FROM events, (SELECT unnest(generate_series(0, {panes - 1})) AS j) offs "
        f"WHERE ts < time_bucket(INTERVAL '{slide_m} minutes', ts) "
        f"- j * INTERVAL '{slide_m}' MINUTE + INTERVAL '{size_m}' MINUTE "
        f"GROUP BY 1, 2"
    )

    def run(spark, sf_dir, size_m=size_m, slide_m=slide_m, key_col=key_col,
            key_alias=key_alias, agg_tags=agg_tags):
        ev = stream_table(
            spark, sf_dir, "events", watermark=("ts", "10 minutes")
        )
        ev = ev.withColumn(key_alias, key_col())
        agg = ev.groupBy(
            F.window("ts", f"{size_m} minutes", f"{slide_m} minutes"),
            key_alias,
        ).agg(*[_AGG_FACTORIES[t]() for t in agg_tags])
        out = run_stream_to_df(agg, "complete")
        return out.select(
            F.col("window.start").alias("window_start"), key_alias, *agg_tags
        )

    register(f"streamfuzz_hop_{i}", run, oracle)


def _register_topn(i: int, rng: random.Random) -> None:
    from flink_parent_spark.streaming.stateful import streaming_top_n

    n = rng.choice([2, 3, 5])
    key_sql, key_col, key_alias = _key(rng)
    descending = rng.random() < 0.7
    direction = "DESC" if descending else "ASC"
    key_expr = key_sql.split(" AS ")[0]
    oracle = f"""
    SELECT {key_alias}, value, event_id, user_id, CAST(rank AS INT) AS rank
    FROM (
      SELECT {key_sql}, value, event_id, user_id,
             ROW_NUMBER() OVER (PARTITION BY {key_expr}
                                ORDER BY value {direction}, event_id) AS rank
      FROM events) t
    WHERE rank <= {n}
    """

    def run(spark, sf_dir, n=n, key_col=key_col, key_alias=key_alias,
            descending=descending):
        ev = stream_table(spark, sf_dir, "events")
        ev = ev.withColumn(key_alias, key_col())
        tn = streaming_top_n(
            ev, [key_alias], "value", n, ["event_id", "user_id"],
            descending=descending, tiebreak_col="event_id",
        )
        return run_stream_to_df(tn, "update")

    register(f"streamfuzz_topn_{i}", run, oracle)


def _register_latest(i: int, rng: random.Random) -> None:
    """Keep-last changelog on a drawn key, retraction-consuming
    re-aggregate on a drawn regroup column — the two-level update
    pipeline Spark's built-in update-mode aggregation cannot chain."""
    stage1_keys = rng.choice([["user_id"], ["user_id", "event_type"]])
    regroup = "event_type"
    oracle = f"""
    WITH latest AS (
      SELECT {', '.join(stage1_keys)}, event_type AS etype, value FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY {', '.join(stage1_keys)}
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t
      WHERE rn = 1
    )
    SELECT etype AS {regroup}, COUNT(*) AS n_keys, {dsum('value', 'sum_value')}
    FROM latest GROUP BY etype
    """

    def run(spark, sf_dir, stage1_keys=stage1_keys, regroup=regroup):
        from flink_parent_spark.streaming.changelog import (
            changelog_keep_last,
            retract_aggregate,
        )

        ev = stream_table(spark, sf_dir, "events")
        ev = ev.withColumn(
            "__ord",
            (F.unix_micros("ts") - F.lit(_EPOCH_2024_MICROS)) * F.lit(1_000_000)
            + F.col("event_id"),
        )
        payload = [c for c in ("event_type", "value") if c not in stage1_keys]
        payload = payload or ["value"]
        log = changelog_keep_last(ev, stage1_keys, "__ord", payload)
        materialized = run_stream_to_df(log, "append")
        return retract_aggregate(
            materialized, [regroup], {"sum_value": "value"},
            count_alias="n_keys",
        )

    register(f"streamfuzz_latest_{i}", run, oracle)


def _register_session(i: int, rng: random.Random) -> None:
    """Session windows with a drawn gap — the window type whose batch
    oracle needs the LAG/running-flag reconstruction (no closed-form
    bucketing), so generator bugs here surface as real mismatches."""
    gap_m = rng.choice([10, 20, 30, 45, 60])
    wm = rng.choice(["5 minutes", "10 minutes"])
    with_sum = rng.random() < 0.5
    agg_sql = ["COUNT(*) AS n"] + (
        [dsum("value", "sum_value")] if with_sum else []
    )
    oracle = f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL '{gap_m}' MINUTE THEN 0 ELSE 1 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, {', '.join(agg_sql)}
    FROM numbered GROUP BY user_id, sid
    """

    def run(spark, sf_dir, gap_m=gap_m, wm=wm, with_sum=with_sum):
        ev = stream_table(spark, sf_dir, "events", watermark=("ts", wm))
        tags = ["n"] + (["sum_value"] if with_sum else [])
        agg = ev.groupBy(
            F.session_window("ts", f"{gap_m} minutes"), "user_id"
        ).agg(*[_AGG_FACTORIES[t]() for t in tags])
        out = run_stream_to_df(agg, "complete")
        return out.select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            *tags,
        )

    register(f"streamfuzz_session_{i}", run, oracle)


def _register_gagg(i: int, rng: random.Random) -> None:
    key_sql, key_col, key_alias = _key(rng)
    agg_sql, agg_tags = _aggs(rng)
    oracle = (
        f"SELECT {key_sql}, {', '.join(agg_sql)} FROM events GROUP BY 1"
    )

    def run(spark, sf_dir, key_col=key_col, key_alias=key_alias,
            agg_tags=agg_tags):
        ev = stream_table(spark, sf_dir, "events")
        ev = ev.withColumn(key_alias, key_col())
        agg = ev.groupBy(key_alias).agg(
            *[_AGG_FACTORIES[t]() for t in agg_tags]
        )
        out = run_stream_to_df(agg, "complete")
        return out.select(key_alias, *agg_tags)

    register(f"streamfuzz_gagg_{i}", run, oracle)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _register_cep(i: int, rng: random.Random) -> None:
    """Two-stage strict-contiguity CEP over the streaming matcher with a
    drawn event-type pair — the stream_cep_signup_purchase template with
    fuzzed literals (the NFA path, state GC, and SKIP_PAST_LAST scan
    resumption re-exercised per pair)."""
    a, b = rng.sample(_EVENT_TYPES, 2)
    oracle = f"""
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
      FROM seq WHERE event_type = '{a}' AND nxt_type = '{b}'
    )
    SELECT user_id, a_id AS event_id, match_id, '{a}' AS stage,
           0 AS seq, a_ts AS event_ts FROM m
    UNION ALL
    SELECT user_id, b_id, match_id, '{b}', 1, b_ts FROM m
    """

    def run(spark, sf_dir, a=a, b=b):
        from flink_parent_spark.streaming.cep import (  # noqa: PLC0415
            AfterMatchSkip,
            Pattern,
            cep_pattern_stream,
        )

        ev = stream_table(spark, sf_dir, "events")
        pat = (
            Pattern.begin(a)
            .where(lambda r, a=a: r["event_type"] == a)
            .next(b)
            .where(lambda r, b=b: r["event_type"] == b)
        )
        out = cep_pattern_stream(
            ev, pat, ["user_id"], "ts", "event_id",
            AfterMatchSkip.SKIP_PAST_LAST,
        )
        return run_stream_to_df(out, "update")

    register(f"streamfuzz_cep_{i}", run, oracle)


def _register_ivjoin(i: int, rng: random.Random) -> None:
    """Stream-stream interval join with a drawn type pair and window —
    the built-in watermark-bounded join under fuzzed bounds."""
    left_t, right_t = rng.sample(_EVENT_TYPES, 2)
    win_m = rng.choice([5, 10, 20, 30])
    strict_lower = rng.random() < 0.5
    lo_op = ">" if strict_lower else ">="
    oracle = f"""
    SELECT l.event_id AS l_id, r.event_id AS r_id, l.user_id
    FROM (SELECT * FROM events WHERE event_type = '{left_t}') l
    JOIN (SELECT * FROM events WHERE event_type = '{right_t}') r
      ON l.user_id = r.user_id
     AND r.ts {lo_op} l.ts AND r.ts <= l.ts + INTERVAL '{win_m}' MINUTE
    """

    def run(spark, sf_dir, left_t=left_t, right_t=right_t, win_m=win_m,
            strict_lower=strict_lower):
        left = (
            stream_table(spark, sf_dir, "events", watermark=("ts", "30 minutes"))
            .filter(F.col("event_type") == left_t)
            .select(
                F.col("event_id").alias("l_id"),
                F.col("user_id").alias("l_user"),
                F.col("ts").alias("l_ts"),
            )
        )
        right = (
            stream_table(spark, sf_dir, "events", watermark=("ts", "30 minutes"))
            .filter(F.col("event_type") == right_t)
            .select(
                F.col("event_id").alias("r_id"),
                F.col("user_id").alias("r_user"),
                F.col("ts").alias("r_ts"),
            )
        )
        lower = (
            F.col("r_ts") > F.col("l_ts")
            if strict_lower
            else F.col("r_ts") >= F.col("l_ts")
        )
        j = left.join(
            right,
            (F.col("l_user") == F.col("r_user"))
            & lower
            & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {win_m} MINUTES")),
        )
        return run_stream_to_df(j, "append").select(
            "l_id", "r_id", F.col("l_user").alias("user_id")
        )

    register(f"streamfuzz_ivjoin_{i}", run, oracle)


def _register_over(i: int, rng: random.Random) -> None:
    """Streaming OVER aggregates with a drawn frame × key × aggregate set
    (OverWindowITCase.scala's enumerated frames and mixed agg lists, here
    structural by index): unbounded (ROWS UNBOUNDED PRECEDING running
    agg), event-time RANGE-bounded, ROWS-bounded, or RANGE-UNBOUNDED
    (SQL's default ORDER BY frame, peers share one result) — the four
    stateful operators in streaming/stateful.py, the reference's full
    rows/range × bounded/unbounded matrix — each replayed to
    convergence against the
    identical batch window frame. r12: the aggregate list draws three
    extra functions beyond sum+count from the FULL declarative set
    {avg,min,max,first_value,last_value,var_pop,var_samp,stddev_pop,
    stddev_samp,distinct_count,lag} (the reference's pluggable
    AggsHandleFunctions + the planner's variance rewrite +
    DistinctAccumulator + LeadLagAggFunction); first/last/lag are
    excluded for RANGE frames where SQL cannot express the peer tiebreak
    (nondeterministic under ties)."""
    # frame is STRUCTURAL by index (mr's streaming-alternation discipline)
    # so each of the four frames keeps a pinned config; all other
    # params are drawn
    frame = ("unbounded", "range", "rows", "range_unbounded")[i % 4]
    key_sql, key_col, key_alias = _key(rng)
    key_expr = key_sql.split(" AS ")[0]
    if frame == "unbounded":
        tag, order = "running", "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING"
        frame_arg = None
    elif frame == "range_unbounded":
        # SQL's default ORDER BY frame: peers share one result
        # (RowTimeRangeUnboundedPrecedingFunction — 4th matrix cell)
        tag = "runbnd"
        order = "ORDER BY ts RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        frame_arg = None
    elif frame == "range":
        mins = rng.choice([15, 30, 60, 120])
        tag = "range"
        # RANGE peers share a timestamp: ORDER BY ts alone (no tiebreak)
        order = (
            f"ORDER BY ts RANGE BETWEEN INTERVAL '{mins}' MINUTE "
            "PRECEDING AND CURRENT ROW"
        )
        frame_arg = mins * 60
    else:
        n_rows = rng.choice([2, 3, 5, 8])
        tag = "frame"
        order = (
            f"ORDER BY ts, event_id ROWS BETWEEN {n_rows - 1} "
            "PRECEDING AND CURRENT ROW"
        )
        frame_arg = n_rows
    # r12+: the extras pool covers the reference's whole declarative set —
    # VAR/STDDEV (pop+samp, planner sum/sum² rewrite), COUNT(DISTINCT)
    # (DistinctAccumulator) and LAG (LeadLagAggFunction). first/last/lag
    # stay out of RANGE frames, where the oracle window orders by ts alone
    # and peers make them nondeterministic.
    extra_pool = (
        ["avg", "min", "max", "var_pop", "var_samp", "stddev_pop",
         "stddev_samp", "distinct_count"]
        if frame in ("range", "range_unbounded")
        else ["avg", "min", "max", "first_value", "last_value", "var_pop",
              "var_samp", "stddev_pop", "stddev_samp", "distinct_count",
              "lag"]
    )
    extras = rng.sample(extra_pool, 3)
    aggs = [("sum", f"{tag}_sum"), ("count", f"{tag}_cnt")] + [
        (fn, f"{tag}_{fn.replace('_value', '')}") for fn in extras
    ]
    # oracle columns per aggregate — same decimal(30,6) quantization the
    # engine applies on ingest, so floats compare bit-exactly
    # sums route decimal->STRING->double (r12 conversion contract, see
    # registry.dsum): exact + correctly rounded at any magnitude; the
    # variance family mirrors the engine's fixed double op order over the
    # decimal-exact sum/sum² pair, with the same GREATEST(…, 0) sqrt clamp
    _SX = (
        "CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS STRING)"
        " AS DOUBLE)"
    )
    _SX2 = (
        "CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * "
        "CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,12))) OVER w AS STRING)"
        " AS DOUBLE)"
    )
    _N = "CAST(COUNT(value) OVER w AS DOUBLE)"
    _VP = f"(({_SX2}) - ({_SX})*({_SX})/({_N})) / ({_N})"
    _VS = f"(({_SX2}) - ({_SX})*({_SX})/({_N})) / (({_N}) - 1)"
    _ORACLE_AGG = {
        "sum": _SX,
        "count": "COUNT(*) OVER w",
        "avg": f"{_SX} / COUNT(value) OVER w",
        "min": "CAST(MIN(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE)",
        "max": "CAST(MAX(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE)",
        "first_value": (
            "CAST(CAST(FIRST_VALUE(value) OVER w AS DECIMAL(30,6)) AS DOUBLE)"
        ),
        "last_value": (
            "CAST(CAST(LAST_VALUE(value) OVER w AS DECIMAL(30,6)) AS DOUBLE)"
        ),
        "var_pop": _VP,
        "var_samp": f"CASE WHEN {_N} < 2 THEN NULL ELSE {_VS} END",
        "stddev_pop": f"SQRT(GREATEST({_VP}, 0))",
        "stddev_samp": (
            f"CASE WHEN {_N} < 2 THEN NULL ELSE SQRT(GREATEST({_VS}, 0)) END"
        ),
        "distinct_count": (
            "COUNT(DISTINCT CAST(value AS DECIMAL(30,6))) OVER w"
        ),
        "lag": "CAST(CAST(LAG(value) OVER w AS DECIMAL(30,6)) AS DOUBLE)",
    }
    agg_sql = ",\n           ".join(
        f"{_ORACLE_AGG[fn]} AS {cname}" for fn, cname in aggs
    )
    oracle = f"""
    SELECT {key_alias}, ts, value, event_id,
           {agg_sql}
    FROM (SELECT {key_sql}, ts, value, event_id FROM events) t
    WINDOW w AS (PARTITION BY {key_alias} {order})
    """

    def run(spark, sf_dir, frame=frame, frame_arg=frame_arg,
            key_col=key_col, key_alias=key_alias, aggs=aggs):
        from flink_parent_spark.streaming.stateful import (  # noqa: PLC0415
            streaming_over,
        )

        is_range = frame in ("range", "range_unbounded")
        wm = ("ts", "0 seconds") if is_range else None
        ev = stream_table(spark, sf_dir, "events", watermark=wm)
        ev = ev.withColumn(key_alias, key_col()).select(
            key_alias, "ts", "value", "event_id"
        )
        out = streaming_over(
            ev, [key_alias], "ts", "value",
            ("range" if is_range else "rows", frame_arg), aggs, ["event_id"],
            tiebreak_col="event_id",
        )
        return run_stream_to_df(out, "append")

    register(f"streamfuzz_over_{i}", run, oracle)


def _register_asof(i: int, rng: random.Random) -> None:
    """Event-time as-of join with drawn version density
    (TemporalJoinITCase.scala's versioned-table shapes): the build side is
    one drawn event type thinned by a drawn value predicate (version
    density), the probe side another type; every probe row picks the
    latest build version with ts <= (or <) its own — the asof_join
    operator backing the SYSTEM_TIME AS OF SQL path
    (TemporalRowTimeJoinOperator parity, operators/joins.py:65). The build
    side is pre-deduped to one version per (user_id, ts) — the versioned
    -table primary-key contract both engines require for determinism."""
    probe_t, build_t = rng.sample(_EVENT_TYPES, 2)
    density_cut = rng.choice([0.0, 0.25, 0.5, 0.75])  # drawn version density
    strict = rng.random() < 0.5
    cmp_op = "<" if strict else "<="
    oracle = f"""
    WITH b AS (
      SELECT user_id, ts, event_id, value FROM (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS dup_rn
        FROM events
        WHERE event_type = '{build_t}' AND value >= {density_cut}
      ) WHERE dup_rn = 1
    ), p AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = '{probe_t}'
    ), j AS (
      SELECT p.event_id AS probe_id, b.event_id AS version_id,
             b.value AS version_value,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY b.ts DESC, b.event_id DESC) AS rn
      FROM p JOIN b ON b.user_id = p.user_id AND b.ts {cmp_op} p.ts
    )
    SELECT p.event_id AS probe_id, p.user_id, p.ts AS probe_ts,
           j.version_id, j.version_value
    FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
      ON j.probe_id = p.event_id
    """

    def run(spark, sf_dir, probe_t=probe_t, build_t=build_t,
            density_cut=density_cut, strict=strict):
        from flink_parent_spark.operators.joins import asof_join  # noqa: PLC0415
        from flink_parent_spark.tables import load_tables  # noqa: PLC0415
        from pyspark.sql import Window  # noqa: PLC0415

        ev = load_tables(spark, sf_dir)["events"]
        build = ev.filter(
            (F.col("event_type") == build_t) & (F.col("value") >= density_cut)
        )
        # one version per (user_id, ts): keep the max event_id
        w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
        build = (
            build.withColumn("__dup_rn", F.row_number().over(w))
            .filter(F.col("__dup_rn") == 1)
            .select("user_id", "ts", "event_id", "value")
        )
        probe = ev.filter(F.col("event_type") == probe_t).select(
            F.col("event_id").alias("probe_id"),
            "user_id",
            F.col("ts").alias("probe_ts"),
        )
        out = asof_join(
            probe,
            build,
            [("user_id", "user_id")],
            "probe_ts",
            "ts",
            {"version_id": "event_id", "version_value": "value"},
            strict=strict,
        )
        return out.select(
            "probe_id", "user_id", "probe_ts", "version_id", "version_value"
        )

    register(f"streamfuzz_asof_{i}", run, oracle)


def _register_mr(i: int, rng: random.Random) -> None:
    """MATCH_RECOGNIZE with a drawn pattern over 2-3 variables
    (MatchRecognizeITCase.scala's enumerated patterns, drawn): either a
    relaxed two-variable `A {- X*? -} B WITHIN w` (first B after each A
    inside the window) or a strict three-variable `A B C`; ONE ROW PER
    MATCH + FIRST/LAST measures, AFTER MATCH SKIP TO NEXT ROW so every
    row starts a candidate match. Oracle from the same drawn literals:
    windowed first-successor pairs for the relaxed shape, double-LEAD
    adjacency for the strict one, LEAD-vs-LAG comparison for the PREV
    shape. r12: even indices deploy the clause in STREAMING mode
    (watermark-held StreamExecMatch path, measures emitted at match
    finalization) so both deployments stay covered — the full replay
    must equal the same batch oracle. r12+: a third drawn kind puts
    PREV(col, n) in DEFINE — physical partition navigation that can
    reach rows BEHIND the match (batch: Catalyst LAG precompute;
    streaming: MatchCtx.prev with GC-context retention)."""
    # i=6 (long-run kind) is BATCH by construction: its pattern ends in an
    # unbounded quantifier, and the watermark-held operator deliberately
    # holds a frontier-adjacent run with headroom forever on a stream that
    # never ends (pinned in test_bounded_quantifier_held_at_seal_boundary)
    # — so the final partial run per key would stay unemitted on replay.
    streaming = i % 2 == 0 and i != 6
    # r13: index 4 always draws the aggregate-measures kind (SUM/AVG/COUNT
    # + logical offset over a quantified run — MatchRecognizeITCase
    # testAggregates/testLogicalOffsets surface), so every battery and
    # every fresh hunt covers it; 0-3 keep the r12 kind pool and their
    # pinned draws.
    # r13b: index 5 always draws the DEFINE-running-aggregate kind — a
    # COUNT(A.*) cap inside the loop variable's own condition chunks each
    # island into ceil(len/cap) matches (running semantics: the row under
    # test counts as A's last row), with the cap drawn per battery/hunt.
    if i == 6:
        kind = "defagg_long"
    elif i == 5:
        kind = "defagg"
    elif i == 4:
        kind = "agg"
    else:
        kind = rng.choice(["three", "relaxed", "prev"])
    if kind == "defagg_long":
        # r14 (verdict #2): LONG-RUN running aggregates — no event-type
        # filter, so EVERY row joins the A+ run until the running
        # COUNT(A.*) cap (20-50, ≫ the 2-4 short-run kind) ends it. This
        # drives the O(run)-per-row DEFINE aggregate path (same cost shape
        # as the reference's per-record full re-accumulation,
        # MatchCodeGenerator.scala:755) at real run lengths, plus a final
        # float SUM over each cap-length run. BATCH at i=6 (see the
        # `streaming = i % 2 == 0 and i != 6` rationale above: the
        # unbounded trailing quantifier would hold the final partial run
        # per key unemitted forever on a stream that never ends).
        cap = rng.choice([20, 30, 50])
        clause = f"""
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(A.event_id) AS first_id,
                   LAST(A.event_id) AS last_id,
                   COUNT(A.*) AS n_rows,
                   SUM(A.value) AS sum_v
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A+)
          DEFINE A AS COUNT(A.*) <= {cap}
        """
        oracle = f"""
        WITH seq AS (
          SELECT user_id, event_id, ts, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) - 1 AS rn0
          FROM events
        ), m AS (
          SELECT user_id, rn0 // {cap} AS match_id,
                 arg_min(event_id, rn0) AS first_id,
                 arg_max(event_id, rn0) AS last_id,
                 CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS STRING)
                      AS DOUBLE) AS sum_v
          FROM seq GROUP BY user_id, match_id
        )
        SELECT user_id, match_id, first_id, last_id, n_rows, sum_v FROM m
        """
    elif kind == "defagg":
        a = rng.choice(_EVENT_TYPES)
        cap = rng.choice([2, 3, 4])
        clause = f"""
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(A.event_id) AS first_id,
                   LAST(A.event_id) AS last_id,
                   COUNT(A.*) AS n_rows
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A+)
          DEFINE A AS A.event_type = '{a}' AND COUNT(A.*) <= {cap}
        """
        oracle = f"""
        WITH seq AS (
          SELECT user_id, event_id, ts,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn,
                 event_type
          FROM events
        ), v AS (
          SELECT user_id, event_id, rn,
                 rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn)
                   AS island
          FROM seq WHERE event_type = '{a}'
        ), chunked AS (
          SELECT user_id, event_id, rn, island,
                 (ROW_NUMBER() OVER (PARTITION BY user_id, island
                                     ORDER BY rn) - 1) // {cap} AS chunk
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
        """
    elif kind == "agg":
        a, b = rng.sample(_EVENT_TYPES, 2)
        clause = f"""
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(A.event_id) AS a_first,
                   LAST(A.event_id, 1) AS a_second_last,
                   COUNT(A.*) AS a_n,
                   SUM(A.value) AS a_sum,
                   AVG(A.value) AS a_avg,
                   B.event_id AS b_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A+ B)
          DEFINE A AS A.event_type = '{a}',
                 B AS B.event_type = '{b}'
        """
        # islands of consecutive '{a}' rows whose next row is a '{b}';
        # float SUM/AVG mirror the engine's decimal-accumulation contract
        # (quantized micros sum, one decimal->string->double conversion)
        oracle = f"""
        WITH seq AS (
          SELECT user_id, event_id, ts, value, event_type,
                 ROW_NUMBER() OVER w AS rn
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), v AS (
          SELECT user_id, event_id, value, rn,
                 rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn)
                   AS island
          FROM seq WHERE event_type = '{a}'
        ), islands AS (
          SELECT user_id, island, MIN(rn) AS srn, MAX(rn) AS ern,
                 CAST(COUNT(*) AS BIGINT) AS a_n,
                 arg_min(event_id, rn) AS a_first,
                 CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS STRING)
                      AS DOUBLE) AS a_sum
          FROM v GROUP BY user_id, island
        ), matches AS (
          SELECT i.*, b.event_id AS b_id
          FROM islands i
          JOIN seq b ON b.user_id = i.user_id AND b.rn = i.ern + 1
          WHERE b.event_type = '{b}'
        )
        SELECT m.user_id,
               ROW_NUMBER() OVER (PARTITION BY m.user_id ORDER BY m.srn) - 1
                 AS match_id,
               m.a_first, sl.event_id AS a_second_last, m.a_n, m.a_sum,
               m.a_sum / m.a_n AS a_avg, m.b_id
        FROM matches m
        LEFT JOIN v sl ON sl.user_id = m.user_id AND sl.rn = m.ern - 1
                      AND m.ern - 1 >= m.srn
        """
    elif kind == "three":
        a, b, c = rng.sample(_EVENT_TYPES, 3)
        clause = f"""
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(A.event_id) AS a_id,
                   LAST(B.event_id) AS b_id,
                   LAST(C.event_id) AS c_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B C)
          DEFINE A AS A.event_type = '{a}',
                 B AS B.event_type = '{b}',
                 C AS C.event_type = '{c}'
        """
        oracle = f"""
        WITH seq AS (
          SELECT user_id, event_id, ts, event_type,
                 LEAD(event_type) OVER w AS t1, LEAD(event_id) OVER w AS id1,
                 LEAD(event_type, 2) OVER w AS t2,
                 LEAD(event_id, 2) OVER w AS id2
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) - 1 AS match_id,
               event_id AS a_id, id1 AS b_id, id2 AS c_id
        FROM seq
        WHERE event_type = '{a}' AND t1 = '{b}' AND t2 = '{c}'
        """
    elif kind == "prev":
        # strict adjacency where B's DEFINE compares against PREV(value, n)
        # — with n=2 the navigation target sits BEFORE the match's own A
        # row (and, under SKIP TO NEXT ROW consumption, often behind the
        # streaming operator's GC frontier)
        a = rng.choice(_EVENT_TYPES)
        off = rng.choice([1, 2])
        clause = f"""
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(A.event_id) AS a_id,
                   LAST(B.event_id) AS b_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B)
          DEFINE A AS A.event_type = '{a}',
                 B AS B.value > PREV(B.value, {off})
        """
        cmp_v = "value" if off == 1 else "vm1"
        oracle = f"""
        WITH seq AS (
          SELECT user_id, event_id, ts, event_type, value,
                 LEAD(event_id) OVER w AS id1, LEAD(value) OVER w AS v1,
                 LAG(value) OVER w AS vm1
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) - 1 AS match_id,
               event_id AS a_id, id1 AS b_id
        FROM seq
        WHERE event_type = '{a}' AND v1 > {cmp_v}
        """
    else:
        a, b = rng.sample(_EVENT_TYPES, 2)
        win_m = rng.choice([5, 10, 20, 30])
        clause = f"""
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(A.event_id) AS a_id,
                   LAST(B.event_id) AS b_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A {{- X*? -}} B)
          WITHIN INTERVAL '{win_m}' MINUTE
          DEFINE A AS A.event_type = '{a}',
                 B AS B.event_type = '{b}'
        """
        oracle = f"""
        WITH a_rows AS (SELECT * FROM events WHERE event_type = '{a}'),
        b_rows AS (SELECT * FROM events WHERE event_type = '{b}'),
        pairs AS (
          SELECT a_rows.user_id, a_rows.event_id AS a_id,
                 a_rows.ts AS a_ts, b_rows.event_id AS b_id,
                 ROW_NUMBER() OVER (PARTITION BY a_rows.user_id,
                                                 a_rows.event_id
                                    ORDER BY b_rows.ts, b_rows.event_id)
                   AS rn
          FROM a_rows JOIN b_rows
            ON a_rows.user_id = b_rows.user_id
           AND b_rows.ts > a_rows.ts
           AND b_rows.ts <= a_rows.ts + INTERVAL '{win_m}' MINUTE
        )
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY a_ts, a_id) - 1 AS match_id,
               a_id, b_id
        FROM pairs WHERE rn = 1
        """

    def run(spark, sf_dir, clause=clause, streaming=streaming):
        from flink_parent_spark.streaming.match_recognize_sql import (  # noqa: PLC0415
            match_recognize_sql,
        )
        from flink_parent_spark.tables import load_tables  # noqa: PLC0415

        if streaming:
            ev = stream_table(spark, sf_dir, "events", watermark=("ts", "0 seconds"))
            out = match_recognize_sql(ev, clause, "event_id", streaming=True)
            return run_stream_to_df(out, "update")
        t = load_tables(spark, sf_dir)
        return match_recognize_sql(t["events"], clause, "event_id")

    register(f"streamfuzz_mr_{i}", run, oracle)


def _register_semij(i: int, rng: random.Random) -> None:
    """Streaming semi/anti join with drawn event-type pair × key
    (StreamingSemiAntiJoinOperator.java:100-160; the reference's
    SemiAntiJoinITCase shapes): mode alternates by index (both modes
    always covered), the rest drawn. Semi emits +I exactly once per
    qualifying left row (at arrival or at the key's first right row);
    anti emits +I for left rows with no earlier right row and retracts
    (-D) when the key's first right row arrives — the full-replay
    changelog must match the batch EXISTS/NOT-EXISTS derivation."""
    anti = i % 2 == 1
    left_t, right_t = rng.sample(_EVENT_TYPES, 2)
    key_sql, key_col, key_alias = _key(rng)
    if anti:
        oracle = f"""
        WITH l AS (SELECT {key_sql}, ts, event_id FROM events
                   WHERE event_type = '{left_t}'),
             r AS (SELECT {key_sql}, ts, event_id FROM events
                   WHERE event_type = '{right_t}'),
        no_earlier AS (
          SELECT l.{key_alias}, l.ts, l.event_id FROM l
          WHERE NOT EXISTS (
            SELECT 1 FROM r
            WHERE r.{key_alias} = l.{key_alias}
              AND (r.ts < l.ts OR (r.ts = l.ts AND r.event_id < l.event_id)))
        )
        SELECT {key_alias}, ts, event_id, '+I' AS op FROM no_earlier
        UNION ALL
        SELECT n.{key_alias}, n.ts, n.event_id, '-D' AS op
        FROM no_earlier n
        WHERE EXISTS (SELECT 1 FROM r WHERE r.{key_alias} = n.{key_alias})
        """
    else:
        oracle = f"""
        WITH l AS (SELECT {key_sql}, ts, event_id FROM events
                   WHERE event_type = '{left_t}'),
             r AS (SELECT {key_sql}, ts, event_id FROM events
                   WHERE event_type = '{right_t}')
        SELECT l.{key_alias}, l.ts, l.event_id, '+I' AS op FROM l
        WHERE EXISTS (SELECT 1 FROM r WHERE r.{key_alias} = l.{key_alias})
        """

    def run(spark, sf_dir, anti=anti, left_t=left_t, right_t=right_t,
            key_col=key_col, key_alias=key_alias):
        from flink_parent_spark.streaming.stateful import (  # noqa: PLC0415
            streaming_semi_anti_join,
        )

        ev = stream_table(spark, sf_dir, "events").withColumn(
            key_alias, key_col()
        )
        out = streaming_semi_anti_join(
            ev.filter(F.col("event_type") == left_t),
            ev.filter(F.col("event_type") == right_t),
            [key_alias],
            ["event_id"],
            "ts",
            anti=anti,
            tiebreak_col="event_id",
        )
        return run_stream_to_df(out, "update").select(
            key_alias, "ts", "event_id", "op"
        )

    register(f"streamfuzz_semij_{i}", run, oracle)


def _register_chain(i: int, rng: random.Random) -> None:
    """THREE-STAGE retraction chain with drawn keys/types/N — the
    reference's multi-level retraction plans (RetractionRulesTest.scala,
    AggregateITCase's two-level cases, here one deeper):

      retraction-EMITTING group agg (GroupAggFunction -U/+U trace)
        -> retraction-CONSUMING join with a keep-last changelog
        -> retractable Top-N re-ranking on every delta.

    Drawn: the aggregated event type, the keep-last event type, the key
    (raw user_id or a modulo bucket), and N. Stages chain through
    parquet materialization (one applyInPandasWithState per streaming
    query — the documented foreachBatch composition model); the full
    replay must equal the batch oracle: per-key totals joined to the
    latest value, global top-N by total."""
    a_t, v_t = rng.sample(_EVENT_TYPES, 2)
    kmod = rng.choice([None, 7, 13])
    n = rng.choice([3, 5, 8])
    key_expr = "user_id" if kmod is None else f"user_id % {kmod}"
    oracle = f"""
    WITH agg AS (
      SELECT {key_expr} AS ukey,
             CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS STRING)
                  AS DOUBLE) AS total
      FROM events WHERE event_type = '{a_t}' GROUP BY 1
    ), lastv AS (
      SELECT ukey, value AS last_value FROM (
        SELECT {key_expr} AS ukey, value,
               ROW_NUMBER() OVER (PARTITION BY {key_expr}
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = '{v_t}') t
      WHERE rn = 1
    ), joined AS (
      SELECT a.ukey, a.total, v.last_value
      FROM agg a JOIN lastv v ON a.ukey = v.ukey
    )
    SELECT ukey, total, last_value, rank FROM (
      SELECT ukey, total, last_value,
             CAST(ROW_NUMBER() OVER (ORDER BY total DESC, ukey) AS INT)
               AS rank
      FROM joined) t
    WHERE rank <= {n}
    """

    def run(spark, sf_dir, a_t=a_t, v_t=v_t, kmod=kmod, n=n):
        import os  # noqa: PLC0415
        import tempfile  # noqa: PLC0415
        import uuid  # noqa: PLC0415

        from flink_parent_spark.streaming.changelog import (  # noqa: PLC0415
            changelog_keep_last,
            retract_join,
            streaming_group_agg_changelog,
        )
        from flink_parent_spark.streaming.stateful import (  # noqa: PLC0415
            streaming_retract_top_n,
        )

        base = os.path.join(
            tempfile.gettempdir(), f"fps_chainfuzz_{uuid.uuid4().hex[:8]}"
        )
        ev = stream_table(spark, sf_dir, "events").withColumn(
            "__ord",
            (F.unix_micros("ts") - F.lit(_EPOCH_2024_MICROS)) * F.lit(1_000_000)
            + F.col("event_id"),
        )
        key = (
            F.col("user_id")
            if kmod is None
            else (F.col("user_id") % kmod)
        ).alias("ukey")
        ev = ev.withColumn("ukey", key)

        agg_cl = streaming_group_agg_changelog(
            ev.filter(F.col("event_type") == a_t),
            ["ukey"], "value", "__ord", sum_alias="total",
        ).withColumnRenamed("__seq", "__ord")
        run_stream_to_df(agg_cl, "append").write.parquet(f"{base}/agg")

        view_cl = changelog_keep_last(
            ev.filter(F.col("event_type") == v_t).withColumnRenamed(
                "value", "last_value"
            ),
            ["ukey"], "__ord", ["last_value"],
        )
        run_stream_to_df(view_cl, "append").write.parquet(f"{base}/view")

        lcl = spark.readStream.schema(
            "ukey long, n bigint, total double, __rowkind string, __ord bigint"
        ).parquet(f"{base}/agg")
        rcl = spark.readStream.schema(
            "ukey long, __ord bigint, last_value double, __rowkind string"
        ).parquet(f"{base}/view")
        joined = retract_join(
            lcl, rcl, ["ukey"], ["total"], ["last_value"], "__ord",
            seq_col="__seq",
        )
        run_stream_to_df(joined, "update").write.parquet(f"{base}/joined")

        jcl = spark.readStream.schema(
            "ukey long, total double, last_value double, __rowkind string, "
            "__seq bigint"
        ).parquet(f"{base}/joined")
        tn = streaming_retract_top_n(
            jcl.withColumn("__g", F.lit(1)),
            ["__g"], "total", n, ["ukey", "last_value"],
            descending=True, tiebreak_col="ukey", sequence_col="__seq",
        )
        out = run_stream_to_df(tn, "update")
        return out.select("ukey", "total", "last_value", "rank")

    register(f"streamfuzz_chain_{i}", run, oracle)


# Pinned seeds per shape (byte-stable configs across rounds, same
# discipline as diff_grammar.FAMILIES).
SHAPES: "dict[str, tuple[int, int, object]]" = {
    "tumble": (0x57F0, 3, _register_tumble),
    "hop": (0x57F1, 2, _register_hop),
    "topn": (0x57F2, 3, _register_topn),
    "latest": (0x57F3, 2, _register_latest),
    "gagg": (0x57F4, 2, _register_gagg),
    "session": (0x57F5, 2, _register_session),
    "cep": (0x57F6, 3, _register_cep),
    "ivjoin": (0x57F7, 2, _register_ivjoin),
    # round 11 — the reference's remaining stream-ITCase families
    # (OverWindowITCase / TemporalJoinITCase / MatchRecognizeITCase)
    # over count 4 (late r12): one pinned config per OVER frame —
    # rows-unbounded running, event-time RANGE-bounded, ROWS-bounded, and
    # the new RANGE-UNBOUNDED (SQL default ORDER BY frame, peers share)
    "over": (0x57F8, 4, _register_over),
    "asof": (0x57F9, 3, _register_asof),
    # mr count 7 (r14): index 4 always draws the aggregate-measures kind
    # (STREAMING deployment at i=4), index 5 the DEFINE-running-aggregate
    # kind (COUNT cap chunking, batch), and index 6 the LONG-RUN running
    # aggregate kind (cap 20-50, batch by construction — its unbounded
    # trailing quantifier would never seal on an unending stream;
    # verdict-r13 #2's quadratic path exercised at real run lengths
    # every battery/hunt); 0-3 keep
    # the r12 pinned kinds (prev/three/three/relaxed, prev streaming at
    # i=0)
    "mr": (0x57FA, 7, _register_mr),
    "semij": (0x57FB, 2, _register_semij),
    # round 12 — the deepest retraction pipeline (three chained
    # changelog-consuming stages; previous deepest was the two-level
    # `latest` regroup)
    "chain": (0x57FC, 2, _register_chain),
}

for _shape, (_seed, _n, _reg) in SHAPES.items():
    _rng = random.Random(_seed)
    for _i in range(_n):
        _reg(_i, _rng)
