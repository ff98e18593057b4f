"""At-volume throughput sweep of the stateful streaming operators.

The catalog proves the streaming operators' SEMANTICS at sf0.01 (value-
exact replay oracles); this tool demonstrates their THROUGHPUT at real
volume — millions of events driven through multi-micro-batch Structured
Streaming runs with real watermarks and state stores.

Corpus: the sf0.1 events table (100k rows) replicated `FPS_STREAMING_REP`
times (default 100 → 10M events, ~64 files so maxFilesPerTrigger yields a
genuine multi-batch replay). Replication is deterministic: event ids stay
globally unique except a planted ~10% duplicate share (the dedup
workload), timestamps spread ±2h per replica (so windows and watermarks
do real work), values jitter per replica (so Top-N state churns).

    python tools/streaming_scale.py          # one JSON line: rows/sec per op
    FPS_STREAMING_REP=10 python tools/...    # smaller corpus
    FPS_STREAMING_ZIPF=0 python tools/...    # skip the skew legs

r12: the sweep also runs the per-key state operators (dedup / updatable
Top-N / ROWS-bounded OVER) on a Zipf(s=1.2)-keyed replica of the same
corpus — the uniform sweep measures the average case, the Zipf legs the
worst case the reference's MiniBatch/split-agg features exist for. The
hot key holds ~13% of ALL events (P(rank<=r) = 1 - r^(-(s-1)) Pareto
tail), so a keyed operator whose per-key work is super-linear, or whose
state store serializes on one group, collapses here and nowhere else.
The JSON carries uniform-vs-zipf rows/s and the collapse ratio per op.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REP = int(os.environ.get("FPS_STREAMING_REP", "100"))
ZIPF = os.environ.get("FPS_STREAMING_ZIPF", "1") != "0"
ZIPF_S = 1.2   # Zipf exponent: p(rank) ~ rank^-1.2
ZIPF_K = 10_000  # key-space cap (the truncated Pareto's max rank)
BASE = "/tmp/fps_streaming_scale"


def zipf_user_col():
    """Deterministic Zipf(s)-distributed user id via the inverse-CDF
    (truncated Pareto) transform of a per-row hash uniform: rank =
    ceil((1-u)^(-1/(s-1))) capped at K gives P(rank<=r) = 1 - r^-(s-1),
    i.e. density ~ rank^-s. No RNG — same corpus every run."""
    u = (
        F.pmod(F.xxhash64("event_id", "ts"), F.lit(1_000_000)).cast("double")
        + F.lit(0.5)
    ) / F.lit(1_000_000.0)
    return F.least(
        F.ceil(F.pow(F.lit(1.0) - u, F.lit(-1.0 / (ZIPF_S - 1.0)))),
        F.lit(ZIPF_K),
    ).cast("long")


def build_events(spark, dist="uniform"):
    path = f"{BASE}/events_rep{REP}" + ("_zipf" if dist == "zipf" else "")
    if not os.path.exists(path):
        from flink_parent_spark.tables import load_tables  # noqa: PLC0415

        ev = load_tables(spark, SF_DIR)["events"]
        r = spark.range(REP).withColumnRenamed("id", "__r")
        scaled = (
            ev.crossJoin(r)
            .select(
                # ~10% of replica rows reuse the base event id (planted
                # duplicates for the dedup workload); the rest are unique
                F.when(F.col("__r") == 0, F.col("event_id"))
                .when(
                    F.pmod(F.col("event_id") + F.col("__r"), F.lit(10)) == 0,
                    F.col("event_id"),
                )
                .otherwise(F.col("__r") * 10_000_000 + F.col("event_id"))
                .alias("event_id"),
                (
                    F.col("ts")
                    + F.make_dt_interval(
                        mins=F.pmod(F.col("__r") * 7, F.lit(240)) - 120
                    )
                ).alias("ts"),
                (
                    zipf_user_col() if dist == "zipf" else F.col("user_id")
                ).alias("user_id"),
                "event_type",
                (
                    F.col("value")
                    + F.pmod(F.col("__r") * 13 + F.col("event_id"), F.lit(97))
                    .cast("double")
                ).alias("value"),
            )
            .repartition(64)
        )
        scaled.write.mode("overwrite").parquet(path)
    return path


def open_stream(spark, path, files_per_trigger=16):
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", files_per_trigger)
        .load(path)
        .withWatermark("ts", "10 minutes")
    )


def main() -> None:
    from flink_parent_spark.session import get_spark  # noqa: PLC0415
    from flink_parent_spark.streaming.core import run_stream_to_df  # noqa: PLC0415
    from flink_parent_spark.streaming.stateful import (  # noqa: PLC0415
        streaming_dedup,
        streaming_updatable_top_n,
    )

    spark = get_spark("streaming_scale")
    t0 = time.time()
    path = build_events(spark)
    zpath = build_events(spark, "zipf") if ZIPF else None
    n_events = spark.read.parquet(path).count()
    gen_sec = round(time.time() - t0, 1)

    def tumble_agg():
        ev = open_stream(spark, path)
        return run_stream_to_df(
            ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
                F.count("*").alias("n"),
                F.sum("value").alias("sum_value"),
            ),
            "complete",
            timeout_s=1800,
        )

    def hop_agg():
        ev = open_stream(spark, path)
        return run_stream_to_df(
            ev.groupBy(
                F.window("ts", "1 hour", "15 minutes"), "event_type"
            ).agg(F.count("*").alias("n")),
            "complete",
            timeout_s=1800,
        )

    def dedup_keys(p=path):
        # keyed state bounded by (user, type) cardinality, the
        # idle-state-retention shape; watermark-driven TTL active
        ev = open_stream(spark, p)
        return run_stream_to_df(
            streaming_dedup(
                ev,
                ["user_id", "event_type"],
                "ts",
                ["event_id", "value"],
                keep="first",
                ttl_seconds=7 * 24 * 3600,
            ),
            "update",
            timeout_s=1800,
        )

    def topn_per_type(p=path):
        # the upsert key is user_id: every new event REPLACES the user's
        # live row (UpdatableTopNFunction's upsert contract), so state is
        # bounded by the user population, not the event count — the shape
        # this operator exists for; keying the upserts by a per-event
        # unique id would grow live state with the stream
        ev = open_stream(spark, p)
        return run_stream_to_df(
            streaming_updatable_top_n(
                ev.select("event_type", "user_id", "value", "ts"),
                key_cols=["event_type"],
                unique_col="user_id",
                order_col="value",
                n=10,
                payload_cols=["ts"],
                descending=True,
            ),
            "update",
            timeout_s=1800,
        )

    def cep_stream(p=path):
        # streaming CEP at volume: the signup->purchase two-stage pattern
        # through the keyed applyInPandasWithState matcher, per-user state
        # garbage-collected behind the scan frontier; throughput is the
        # Arrow-batch + per-key Python matcher cost the catalog's toy-size
        # cep_* entries never exercise
        from flink_parent_spark.streaming.cep import (  # noqa: PLC0415
            Pattern,
            cep_pattern_stream,
        )

        ev = open_stream(spark, p)
        pat = (
            Pattern.begin("signup")
            .where(lambda r: r["event_type"] == "signup")
            .followed_by("purchase")
            .where(lambda r: r["event_type"] == "purchase")
        )
        return run_stream_to_df(
            cep_pattern_stream(
                ev.select("user_id", "event_id", "event_type", "ts"),
                pat,
                ["user_id"],
                "ts",
                "event_id",
            ),
            "update",
            timeout_s=1800,
        )

    def mr_agg_stream(p=path):
        # streaming MATCH_RECOGNIZE with aggregate MEASURES at volume
        # (r13): possessive A+ B islands with SUM/AVG/COUNT + offset
        # navigation through the watermark-held matcher and the compiled
        # measures evaluator — the expression-engine hot path the toy-size
        # match_recognize_* catalog entries never stress
        from flink_parent_spark.streaming.match_recognize_sql import (  # noqa: PLC0415
            match_recognize_sql,
        )

        ev = open_stream(spark, p)
        clause = """
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
          DEFINE A AS A.event_type = 'view',
                 B AS B.event_type = 'purchase'
        """
        return run_stream_to_df(
            match_recognize_sql(
                ev.select("user_id", "event_id", "event_type", "value", "ts"),
                clause,
                "event_id",
                streaming=True,
            ),
            "update",
            timeout_s=1800,
        )

    def over_rows_bounded(p=path):
        # streaming ROWS-bounded OVER at volume (r11, backing the new
        # `over` fuzz shape): per-key ring buffer of the last 5 (ts,
        # value) entries — state bounded by frame x key cardinality, not
        # the stream; throughput is the applyInPandasWithState ordered-
        # replay cost on a real multi-batch run
        from flink_parent_spark.streaming.stateful import (  # noqa: PLC0415
            streaming_over,
        )

        ev = open_stream(spark, p)
        return run_stream_to_df(
            streaming_over(
                ev.select("user_id", "ts", "value", "event_id"),
                ["user_id"], "ts", "value", ("rows", 5),
                [("sum", "frame_sum"), ("count", "frame_cnt")], ["event_id"],
                tiebreak_col="event_id",
            ),
            "append",
            timeout_s=1800,
        )

    def over_range_bounded(p=path):
        # event-time RANGE-bounded OVER at volume (late r12): the
        # incremental retractable-accumulator path (accumulate on append,
        # retract on evict, monotonic-deque MIN/MAX) — O(rows) per batch
        # where the frame-recompute predecessor was O(rows x frame);
        # 30-minute trailing frame, mixed aggregate list
        from flink_parent_spark.streaming.stateful import (  # noqa: PLC0415
            streaming_over,
        )

        ev = open_stream(spark, p)
        return run_stream_to_df(
            streaming_over(
                ev.select("user_id", "ts", "value", "event_id"),
                ["user_id"], "ts", "value", ("range", 1800),
                [("sum", "w_sum"), ("count", "w_cnt"),
                 ("min", "w_min"), ("max", "w_max")],
                ["event_id"],
                tiebreak_col="event_id",
            ),
            "append",
            timeout_s=1800,
        )

    def retract_chain():
        # r12: the three-stage retraction pipeline at volume — group-agg
        # changelog (2 deltas/row) -> retract join with a keep-last
        # changelog -> retractable Top-5 per 64-way key bucket. The
        # parquet hops between stages split into real multi-batch replays
        # at this size, so the pending-retraction path (cross-batch
        # -U-before-+U inversions, the r12 scale-stress fix) runs hot.
        import shutil  # noqa: PLC0415
        import uuid  # noqa: PLC0415

        from flink_parent_spark.streaming.changelog import (  # noqa: PLC0415
            changelog_keep_last,
            retract_join,
            streaming_group_agg_changelog,
        )
        from flink_parent_spark.streaming.stateful import (  # noqa: PLC0415
            streaming_retract_top_n,
        )

        base = f"{BASE}/chain_{uuid.uuid4().hex[:8]}"
        ev = open_stream(spark, path).withColumn(
            "__ord",
            (F.unix_micros("ts")) * F.lit(1_000) + F.pmod("event_id", F.lit(1000)),
        )
        agg_cl = streaming_group_agg_changelog(
            ev.filter(F.col("event_type") == "purchase")
            .withColumnRenamed("user_id", "ukey"),
            ["ukey"], "value", "__ord", sum_alias="total",
        ).withColumnRenamed("__seq", "__ord")
        run_stream_to_df(agg_cl, "append", timeout_s=1800).write.parquet(
            f"{base}/agg"
        )
        view_cl = changelog_keep_last(
            ev.filter(F.col("event_type") == "view")
            .withColumnRenamed("user_id", "ukey")
            .withColumnRenamed("value", "last_value"),
            ["ukey"], "__ord", ["last_value"],
        )
        run_stream_to_df(view_cl, "append", timeout_s=1800).write.parquet(
            f"{base}/view"
        )
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
        run_stream_to_df(joined, "update", timeout_s=1800).write.parquet(
            f"{base}/joined"
        )
        jcl = spark.readStream.schema(
            "ukey long, total double, last_value double, __rowkind string, "
            "__seq bigint"
        ).parquet(f"{base}/joined")
        tn = streaming_retract_top_n(
            jcl.withColumn("__g", F.pmod("ukey", F.lit(64))),
            ["__g"], "total", 5, ["ukey", "last_value"],
            descending=True, tiebreak_col="ukey", sequence_col="__seq",
        )
        out = run_stream_to_df(tn, "update", timeout_s=1800)
        shutil.rmtree(base, ignore_errors=True)
        return out

    entries = {
        "tumble_agg_1h": tumble_agg,
        "hop_agg_1h_15m": hop_agg,
        "dedup_first_user_type": dedup_keys,
        "updatable_topn_per_type": topn_per_type,
        "cep_signup_purchase": cep_stream,
        "mr_agg_measures": mr_agg_stream,
        "over_rows5_per_user": over_rows_bounded,
        "over_range30m_per_user": over_range_bounded,
        "retract_chain_3stage": retract_chain,
    }
    zipf_of = {}
    if ZIPF:
        # skew legs: the three per-key state operators re-run on the
        # Zipf-keyed corpus (hot user ~13% of all events)
        entries["dedup_first_user_type_zipf"] = lambda: dedup_keys(zpath)
        entries["updatable_topn_per_type_zipf"] = lambda: topn_per_type(zpath)
        entries["over_rows5_per_user_zipf"] = lambda: over_rows_bounded(zpath)
        entries["cep_signup_purchase_zipf"] = lambda: cep_stream(zpath)
        entries["mr_agg_measures_zipf"] = lambda: mr_agg_stream(zpath)
        zipf_of = {
            "mr_agg_measures_zipf": "mr_agg_measures",
            "dedup_first_user_type_zipf": "dedup_first_user_type",
            "updatable_topn_per_type_zipf": "updatable_topn_per_type",
            "over_rows5_per_user_zipf": "over_rows5_per_user",
            "cep_signup_purchase_zipf": "cep_signup_purchase",
        }
    timings: dict = {}
    rates: dict = {}
    rows: dict = {}
    for name, fn in entries.items():
        t0 = time.time()
        rows[name] = fn().count()
        dt = time.time() - t0
        timings[name] = round(dt, 1)
        rates[name] = int(n_events / dt)
        print(
            f"[stream-scale] {name}: {timings[name]}s "
            f"({rates[name]} rows/s, {rows[name]} out)",
            flush=True,
        )

    zipf_block = None
    if ZIPF:
        zipf_block = {
            "s": ZIPF_S,
            "k": ZIPF_K,
            # uniform rows/s divided by zipf rows/s: >1 means skew costs
            # throughput; the r12 bar is <5x (a collapse beyond that
            # needs a documented mitigation, e.g. operators/skew.py)
            "collapse_ratio": {
                z: round(rates[u] / rates[z], 2)
                for z, u in zipf_of.items()
                if rates.get(z)
            },
        }
    print(
        json.dumps(
            {
                "metric": "streaming_at_volume_rows_per_sec",
                "events": n_events,
                "gen_sec": gen_sec,
                "unit": "rows/sec",
                "entries_sec": timings,
                "rows_per_sec": rates,
                "out_rows": rows,
                "zipf": zipf_block,
            }
        )
    )


if __name__ == "__main__":
    main()
