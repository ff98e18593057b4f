"""Custom stateful streaming operators over applyInPandasWithState:
streaming Top-N, dedup keep-first/keep-last, streaming OVER aggregation.

Each mirrors a reference runtime operator's algorithm (not its code):
- streaming_top_n      <- AppendOnlyTopNFunction.java (flink-table-runtime-
  blink/.../operators/rank/): per-key sorted buffer capped at N; emit the
  buffer when it changes.
- streaming_dedup      <- DeduplicateKeepFirstRowFunction.java /
  DeduplicateKeepLastRowFunction.java (.../operators/deduplicate/): per-key
  single-row state; keep-first emits once, keep-last emits the newest row.
- streaming_over       <- the {ProcTime,RowTime}{Rows,Range}{Bounded,
  Unbounded}PrecedingFunction family (.../operators/over/): ONE operator
  over the four frames (rows/range x bounded/unbounded), one accumulator.

State layout notes (the 100 TB angle): state is one entry per key (dedup,
unbounded OVER accumulator), the live frame per key (bounded OVER) or N
rows per key (top-n) — bounded, no per-event growth; exactly the state
discipline the reference's operators enforce. The GroupStateTimeout hooks
are where TTL / idle-state retention plugs in (StateTtlConfig parity).
"""

from __future__ import annotations

import math
from collections import Counter, deque
from collections.abc import Iterator, Sequence
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _schema_of(df: DataFrame, cols: Sequence[str]) -> str:
    dt = dict(df.dtypes)
    return ", ".join(f"`{c}` {dt[c]}" for c in cols)


def _to_ms(ts) -> int:
    """Event time -> epoch milliseconds (the watermark's unit), floored."""
    return int(pd.Timestamp(ts).value // 1_000_000)


_Q6 = Decimal("0.000001")


def _to_micros(v) -> int:
    """Quantize a numeric value to exact integer micros (ROUND_HALF_UP) —
    the DECIMAL(.., 6) cast the SQL oracles apply."""
    return int(Decimal(float(v)).quantize(_Q6, rounding=ROUND_HALF_UP) * 1_000_000)


def streaming_top_n(
    sdf: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    n: int,
    payload_cols: Sequence[str],
    descending: bool = True,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Append-only streaming Top-N per key: state holds at most n rows per
    key; each batch emits the refreshed top-n for keys that received input
    (update semantics, like the reference's retract-free fast path).
    `tiebreak_col` breaks order_col ties ascending for determinism."""
    out_cols = list(dict.fromkeys([*key_cols, order_col, *payload_cols]))
    out_schema = _schema_of(sdf, out_cols) + ", `rank` int"
    state_schema = "buf array<struct<" + _schema_of(sdf, out_cols).replace("`", "") + ">>"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows: list[tuple] = list(state.get[0]) if state.exists else []
        buf = [dict(zip(out_cols, r)) for r in rows]
        for pdf in pdfs:
            for rec in pdf[out_cols].to_dict("records"):
                buf.append(rec)
        # Two-pass stable sort: tiebreak ascending, then order_col in the
        # requested direction. Avoids `sign * value`, which only works for
        # numerics (timestamps/strings order fine under plain comparison).
        if tiebreak_col is not None:
            buf.sort(key=lambda r: r[tiebreak_col])
        buf.sort(key=lambda r: r[order_col], reverse=descending)
        buf = buf[:n]
        state.update(([tuple(r[c] for c in out_cols) for r in buf],))
        out = pd.DataFrame(buf, columns=out_cols)
        out["rank"] = range(1, len(out) + 1)
        yield out

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_dedup(
    sdf: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    payload_cols: Sequence[str],
    keep: str = "first",
    ttl_seconds: int | None = None,
) -> DataFrame:
    """Streaming dedup per key. keep='first': emit only the first-seen row
    per key (by order_col, then arrival); keep='last': emit the latest row
    per key each time it changes (update semantics).

    ttl_seconds: state time-to-live in event time (StateTtlConfig.java /
    idle-state retention, TableConfig.java:266 — semantics mirrored, clock
    differs: Flink's SQL retention uses processing time, here expiry is
    driven by the watermark so tests and replays are deterministic).
    Visibility is NeverReturnExpired with OnCreateAndWrite update: state
    written at event time T is invisible once the watermark passes
    T + ttl — a key re-arriving after expiry is treated as NEW and
    re-emits — and an EventTimeTimeout physically removes the entry when
    the watermark passes without new input (the background cleanup of
    StateTtlConfig.cleanupInRocksdbCompactFilter / incremental cleanup).
    Requires a watermark on `sdf`; `order_col` must be the event-time
    column."""
    out_cols = list(dict.fromkeys([*key_cols, order_col, *payload_cols]))
    out_schema = _schema_of(sdf, out_cols)
    state_schema = (
        "cur struct<" + _schema_of(sdf, out_cols).replace("`", "") + ">, "
        "written_ms bigint"
    )

    first = keep == "first"
    ttl_ms = ttl_seconds * 1000 if ttl_seconds is not None else None

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # watermark passed written_ms + ttl with no new input: physical
            # cleanup (the state entry is gone, not merely invisible)
            state.remove()
            yield pd.DataFrame(columns=out_cols)
            return
        cur, written_ms = None, 0
        if state.exists:
            cur = dict(zip(out_cols, state.get[0]))
            written_ms = state.get[1]
        if ttl_ms is not None and cur is not None:
            wm = state.getCurrentWatermarkMs()
            if wm > written_ms + ttl_ms:
                cur = None  # NeverReturnExpired: expired-but-present is absent
        emitted = []
        # vectorized: only one row per batch can win — keep='first' needs
        # the min-order row (earliest arrival among ties), keep='last' the
        # max-order row (latest arrival among ties) — so the 10M-row
        # at-volume ingest never materializes per-row dicts
        for pdf in pdfs:
            if first and cur is not None:
                break  # latched: nothing in any later batch can change it
            if not len(pdf):
                continue
            sub = pdf[out_cols]
            # single-row to_dict("records"): native Python scalars (the
            # state pickler rejects numpy types)
            if first:
                idx = sub[order_col].idxmin()
            else:
                idx = sub[order_col][::-1].idxmax()
            rec = sub.loc[[idx]].to_dict("records")[0]
            if cur is None or (not first and rec[order_col] >= cur[order_col]):
                cur = rec
                written_ms = _to_ms(rec[order_col]) if ttl_ms is not None else 0
                emitted = [rec]
        state.update((tuple(cur[c] for c in out_cols), written_ms))
        if ttl_ms is not None:
            # clamp to just past the watermark: an entry whose event-time +
            # ttl is already behind an advanced watermark is expired-on-
            # write — Spark rejects a past timeout timestamp, while the
            # reference's TTL cleanup simply collects it at the next
            # opportunity, so schedule the physical removal one tick ahead
            state.setTimeoutTimestamp(
                max(written_ms + ttl_ms, state.getCurrentWatermarkMs() + 1)
            )
        yield pd.DataFrame(emitted, columns=out_cols)

    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return sdf.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "update", timeout
    )


def streaming_updatable_top_n(
    sdf: DataFrame,
    key_cols: Sequence[str],
    unique_col: str,
    order_col: str,
    n: int,
    payload_cols: Sequence[str],
    descending: bool = True,
    arrival_cols: Sequence[str] = (),
) -> DataFrame:
    """Updatable streaming Top-N (UpdatableTopNFunction.java parity —
    flink-table-runtime-blink/.../operators/rank/): the input is an UPSERT
    stream with a unique key per row (`unique_col`) and NO retractions — a
    new row for an existing unique key replaces it in place, halving the
    changelog traffic the retractable path needs (-U then +U per change)
    and skipping the delete/re-insert state round-trip.

    State per key group: the live row per unique key (the reference's
    dataState map) plus the last emitted top-n assignment; each batch
    applies upserts in `arrival_cols` order (last write wins), re-ranks,
    and emits ONLY the (rank, row) assignments that changed — an update
    that leaves the top-n untouched emits nothing, the reference's
    emit-on-change behavior that makes this strategy cheaper than
    retractable Top-N on update-heavy streams (asserted in
    tests/test_streaming_semantics.py). Ties on order_col break by
    unique_col ascending.

    With arrival_cols given, last-write-wins is decided by the ARRIVAL
    KEY, not batch order (r12): the arrival values persist with each live
    row and an upsert only applies if its arrival key is >= the stored
    one — so a file-replayed upsert stream whose batches interleave out
    of order (the parquet-hop composition model) still converges to the
    true latest row per unique key."""
    data_cols = list(dict.fromkeys([*key_cols, unique_col, order_col, *payload_cols]))
    in_cols = list(dict.fromkeys([*data_cols, *arrival_cols]))
    # arrival values persist with the live row so cross-batch ordering is
    # decided by data, not delivery
    live_cols = list(dict.fromkeys([*data_cols, *arrival_cols]))
    out_schema = _schema_of(sdf, data_cols) + ", `rank` int"
    state_schema = (
        "live array<struct<" + _schema_of(sdf, live_cols).replace("`", "") + ">>, "
        "emitted array<struct<"
        + _schema_of(sdf, data_cols).replace("`", "")
        + ", rank: int>>"
    )
    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        live: dict[Any, dict] = {}
        prev_emitted: list[tuple] = []
        if state.exists:
            for r in state.get[0]:
                rec = dict(zip(live_cols, r))
                live[rec[unique_col]] = rec
            prev_emitted = [tuple(r) for r in state.get[1]]
        for pdf in pdfs:
            # vectorized within-batch last-write-wins: stable-sort by the
            # arrival key (or keep raw batch order) and keep only the last
            # upsert per unique key BEFORE any per-row dict conversion —
            # the at-volume ingest path converts one row per live key, not
            # one per input row
            sub = pdf[in_cols]
            if arrival_cols:
                sub = sub.sort_values(list(arrival_cols), kind="stable")
            sub = sub.drop_duplicates(subset=[unique_col], keep="last")
            for rec in sub.to_dict("records"):
                if arrival_cols:
                    cur = live.get(rec[unique_col])
                    if cur is not None and tuple(
                        rec[c] for c in arrival_cols
                    ) < tuple(cur[c] for c in arrival_cols):
                        continue  # stale upsert delivered late — skip
                live[rec[unique_col]] = {c: rec[c] for c in live_cols}
        # Two-pass stable sort: unique_col tiebreak ascending, then
        # order_col in the requested direction — `sign * value` only works
        # for numerics (timestamps/strings sort fine under comparison)
        ranked = sorted(live.values(), key=lambda r: r[unique_col])
        ranked.sort(key=lambda r: r[order_col], reverse=descending)
        ranked = ranked[:n]
        top = [
            (*(r[c] for c in data_cols), i + 1) for i, r in enumerate(ranked)
        ]
        prev_set = set(prev_emitted)
        changed = [t for t in top if t not in prev_set]
        state.update(
            (
                [tuple(r[c] for c in live_cols) for r in live.values()],
                top,
            )
        )
        out = pd.DataFrame(
            [dict(zip([*data_cols, "rank"], t)) for t in changed],
            columns=[*data_cols, "rank"],
        )
        yield out

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_retract_top_n(
    changelog: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    n: int,
    payload_cols: Sequence[str],
    rowkind_col: str = "__rowkind",
    descending: bool = True,
    tiebreak_col: str | None = None,
    sequence_col: str | None = None,
) -> DataFrame:
    """Retraction-aware streaming Top-N (RetractableTopNFunction.java:491
    parity): input rows carry RowKind; -U/-D removes the matching row from
    the per-key buffer, +I/+U inserts. Emits the refreshed top-n per key
    per batch. State holds ALL live rows per key (same cost the reference
    pays — a retraction can promote any row into the top-n).

    sequence_col: causal order of changelog rows within a batch (a replayed
    changelog file loses the per-key channel ordering Flink's network stack
    guarantees; +I sorts before -U before +U at equal sequence).

    Out-of-order retractions ACROSS micro-batches (r12): a file-replayed
    changelog can split one key's rows across batches in arbitrary file
    order, so a -U/-D can arrive a whole batch BEFORE its matching +I/+U
    — per-batch sequence sorting cannot repair that. An unmatched
    retraction is therefore held in a pending multiset in state and
    annihilates the matching accumulate when it arrives (the row never
    becomes live), instead of being silently dropped and leaving the
    stale row ranked forever. Flink never needs this (its per-key network
    channels are FIFO end-to-end); the parquet-hop composition model this
    engine uses for multi-stage changelog pipelines does."""
    data_cols = list(dict.fromkeys([*key_cols, order_col, *payload_cols]))
    out_schema = _schema_of(changelog, data_cols) + ", `rank` int"
    row_struct = "array<struct<" + _schema_of(changelog, data_cols).replace("`", "") + ">>"
    state_schema = f"buf {row_struct}, pend {row_struct}"
    sign_plus = ("+I", "+U")
    # at equal sequence a row's -U refers to the row inserted at that same
    # sequence (its +I/+U) — retraction must sort AFTER the insertion
    kind_rank = {"+I": 0, "+U": 1, "-U": 2, "-D": 2}

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        buf = [dict(zip(data_cols, r)) for r in (state.get[0] if state.exists else [])]
        pend = [dict(zip(data_cols, r)) for r in ((state.get[1] or []) if state.exists else [])]
        for pdf in pdfs:
            in_cols = list(dict.fromkeys([*data_cols, rowkind_col, *( [sequence_col] if sequence_col else [] )]))
            recs = pdf[in_cols].to_dict("records")
            if sequence_col:
                recs.sort(key=lambda r: (r[sequence_col], kind_rank.get(r[rowkind_col], 3)))
            for rec in recs:
                if sequence_col and sequence_col not in data_cols:
                    rec.pop(sequence_col, None)
                kind = rec.pop(rowkind_col)
                if kind in sign_plus:
                    for i, p in enumerate(pend):
                        if all(p[c] == rec[c] for c in data_cols):
                            del pend[i]  # early retraction annihilates it
                            break
                    else:
                        buf.append(rec)
                else:  # -U / -D: remove one matching row, else hold pending
                    for i, r in enumerate(buf):
                        if all(r[c] == rec[c] for c in data_cols):
                            del buf[i]
                            break
                    else:
                        pend.append(rec)
        # Two-pass stable sort (see streaming_top_n): tiebreak ascending,
        # then order_col in the requested direction — works for any
        # comparable sortKey (timestamps/strings), not just numerics
        if tiebreak_col is not None:
            buf.sort(key=lambda r: r[tiebreak_col])
        buf.sort(key=lambda r: r[order_col], reverse=descending)
        state.update((
            [tuple(r[c] for c in data_cols) for r in buf],
            [tuple(r[c] for c in data_cols) for r in pend],
        ))
        top = buf[:n]
        out = pd.DataFrame(top, columns=data_cols)
        out["rank"] = range(1, len(out) + 1)
        yield out

    return changelog.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


#: the declarative aggregate set the streaming OVER operator supports —
#: the reference plugs generated AggsHandleFunctions into its over
#: operators (RowTimeRangeBoundedPrecedingFunction.java:277) drawn from
#: the planner's aggfunctions (Sum/Count/Avg/Min/MaxWithRetract/
#: FirstValue/LastValue), VAR/STDDEV (pop+samp) via the decimal-exact
#: sum/sum² split the planner's AggregateReduceFunctionsRule produces,
#: COUNT(DISTINCT) (DistinctAccumulator parity) and LAG
#: (LeadLagAggFunction — the previous partition row, not frame-derived).
_OVER_AGGS = (
    "sum", "count", "avg", "min", "max", "first_value", "last_value",
    "var_pop", "var_samp", "stddev_pop", "stddev_samp",
    "distinct_count", "lag",
)

#: aggregates that can emit NULL (SQL semantics: LAG past the partition
#: start; sample variance of a single row) — emitted through a nullable
#: pandas dtype so Arrow writes NULL, not NaN
_OVER_NULLABLE = frozenset(("var_samp", "stddev_samp", "lag"))

#: integer-typed emits
_OVER_BIGINT = frozenset(("count", "distinct_count"))

#: the variance family — the only aggregates that need sum²
_OVER_VAR = frozenset(("var_pop", "var_samp", "stddev_pop", "stddev_samp"))


def _micros_double(n: int, scale: int = 6) -> float:
    """Correctly-rounded fixed-point-decimal -> double at ANY magnitude —
    the engine side of the oracle's decimal->STRING->double route.

    Within ±2^53 the int->float conversion is exact and the single
    division by an exactly-representable power of ten rounds once —
    identical to strtod. Beyond 2^53 `n / 1e6` would round TWICE (int ->
    float, then the division): a 1-ulp drift vs the oracle. Found live by
    the seed-41 sf0.1 hunt — a single squared micros value (v=500 ->
    2.5e17) already exceeds 2^53, so every VAR/STDDEV sum-of-squares hit
    the double-rounding path. The exact decimal string through float()
    (correctly-rounded strtod) matches the oracle bit-for-bit."""
    if -(2**53) <= n <= 2**53:
        return n / (10.0 ** scale)
    sign = "-" if n < 0 else ""
    q, r = divmod(abs(n), 10 ** scale)
    return float(f"{sign}{q}.{r:0{scale}d}")


def _over_agg_schema(agg_list: "list[tuple[str, str]]") -> str:
    for fn, _ in agg_list:
        if fn not in _OVER_AGGS:
            raise ValueError(f"unsupported streaming OVER aggregate: {fn}")
    return "".join(
        f", `{c}` {'bigint' if fn in _OVER_BIGINT else 'double'}"
        for fn, c in agg_list
    )


def _over_emit_series(fn: str, values: list, index=None) -> "pd.Series":
    """Emit column for one aggregate: bigint for counts, nullable Float64
    for NULL-capable aggregates (Arrow writes true NULLs), float64
    otherwise."""
    if fn in _OVER_BIGINT:
        return pd.Series(values, index=index, dtype="int64")
    if fn in _OVER_NULLABLE:
        return pd.Series(values, index=index, dtype="Float64")
    return pd.Series(values, index=index, dtype="float64")


class _OverAcc:
    """The one OVER frame accumulator, in exact integer micros: sum,
    count, sum² (VAR/STDDEV), the DISTINCT multiset, min/max, first and
    last. `add` accumulates a row; `evict` retracts the rows that left a
    bounded frame (the reference's retractable AggsHandleFunctions).

    `span` is the frame bound: a row count (ROWS), a range in micros
    (RANGE) or None (unbounded). A bounded frame is rebuilt from its
    persisted (ts, micros) buffer once per batch — MIN/MAX through
    monotonic deques keyed by buffer position (amortized O(1) sliding
    extremum), DISTINCT through a multiplicity map — so per-key state is
    bounded by the frame. An unbounded frame is append-only, so it
    persists O(1) scalars (monotone min/max, latched first) plus the
    distinct set only when COUNT(DISTINCT) is requested; sum² can exceed
    int64 and persists as a decimal string."""

    def __init__(self, fns: "set[str]", rows: bool, span, snap) -> None:
        buf, acc, cnt, s2, mn, mx, first, dvals = snap
        self.rows, self.span = rows, span
        self.var = bool(fns & _OVER_VAR)
        self.distinct = "distinct_count" in fns
        self.want_min, self.want_max = "min" in fns, "max" in fns
        self.last = None
        if span is None:
            self.buf = None
            self.acc, self.cnt, self.s2 = acc, cnt, int(s2)
            self.mn, self.mx, self.first = mn, mx, first
            self.dc = Counter(dvals)
            return
        self.buf, self.minq, self.maxq = deque(), deque(), deque()
        self.base = self.acc = self.cnt = self.s2 = 0
        self.dc = Counter()
        for t, m in buf:
            self.add(t, m)

    def add(self, t: int, m: int) -> None:
        self.acc += m
        self.cnt += 1
        self.last = m
        if self.var:
            self.s2 += m * m
        if self.distinct:
            self.dc[m] += 1
        if self.buf is None:
            if self.first is None:
                self.first = m
            self.mn = m if self.mn is None or m < self.mn else self.mn
            self.mx = m if self.mx is None or m > self.mx else self.mx
            return
        pos = self.base + len(self.buf)
        self.buf.append((t, m))
        if self.want_min:
            while self.minq and self.minq[-1][1] >= m:
                self.minq.pop()
            self.minq.append((pos, m))
        if self.want_max:
            while self.maxq and self.maxq[-1][1] <= m:
                self.maxq.pop()
            self.maxq.append((pos, m))

    def evict(self, t: int) -> None:
        """Retract what left the frame ending at `t`: ROWS keeps the last
        `span` rows, RANGE the rows at or after t - span."""
        buf = self.buf
        if buf is None:
            return
        while buf and (
            len(buf) > self.span if self.rows else buf[0][0] < t - self.span
        ):
            m = buf.popleft()[1]
            self.base += 1
            self.acc -= m
            self.cnt -= 1
            if self.var:
                self.s2 -= m * m
            if self.distinct:
                self.dc[m] -= 1
                if not self.dc[m]:
                    del self.dc[m]
        while self.minq and self.minq[0][0] < self.base:
            self.minq.popleft()
        while self.maxq and self.maxq[0][0] < self.base:
            self.maxq.popleft()

    def value(self, fn: str):
        """One aggregate over the current frame. Only the emit converts
        to double, once per exact sum, and the variance family combines
        the doubles in the fixed op order the SQL oracles mirror
        literally: (sx2 - sx*sx/n) / (n - ddof), GREATEST(.., 0) under
        the square root."""
        md, buf = _micros_double, self.buf
        if fn == "sum":
            return md(self.acc)
        if fn == "count":
            return self.cnt
        if fn == "avg":
            return md(self.acc) / self.cnt
        if fn == "min":
            return md(self.mn if buf is None else self.minq[0][1])
        if fn == "max":
            return md(self.mx if buf is None else self.maxq[0][1])
        if fn == "first_value":
            return md(self.first if buf is None else buf[0][1])
        if fn == "last_value":
            return md(self.last)
        if fn == "distinct_count":
            return len(self.dc)
        sd, nd = md(self.acc), float(self.cnt)
        num = md(self.s2, 12) - sd * sd / nd
        if fn in ("var_pop", "stddev_pop"):
            v = num / nd
        elif self.cnt < 2:
            return None  # sample variance of a single row is NULL in SQL
        else:
            v = num / (nd - 1.0)
        return v if fn.startswith("var") else math.sqrt(max(v, 0.0))

    def snapshot(self) -> tuple:
        if self.buf is not None:
            return (list(self.buf), 0, 0, "0", None, None, None, [])
        return (
            [], self.acc, self.cnt, str(self.s2), self.mn, self.mx,
            self.first, sorted(self.dc),
        )


def streaming_over(
    sdf: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    frame: "tuple[str, int | None]",
    aggs: "Sequence[tuple[str, str]]",
    payload_cols: Sequence[str] = (),
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Streaming OVER aggregation (PARTITION BY key ORDER BY ts) over one
    cell of the reference's rows/range × bounded/unbounded matrix, with a
    pluggable aggregate list `aggs` of (fn, out_col), fn in _OVER_AGGS:

    - ("rows", n):     ROWS BETWEEN n-1 PRECEDING AND CURRENT ROW
    - ("rows", None):  ROWS UNBOUNDED PRECEDING (running aggregate)
    - ("range", s):    RANGE BETWEEN s seconds PRECEDING AND CURRENT ROW
    - ("range", None): RANGE UNBOUNDED PRECEDING (SQL's default ORDER BY
      frame)

    RowTime{Rows,Range}{Bounded,Unbounded}PrecedingFunction parity
    (algorithm, not code): per key one `_OverAcc`; ROWS frames treat
    every row as its own peer group and evict by count, RANGE frames
    aggregate all rows sharing a timestamp together (SQL RANGE peers —
    they share one result) and evict rows older than ts - range, boundary
    inclusive. LAG stays per-row (the previous row in (ts, tiebreak)
    order). Values accumulate as exact integer micros (restart-safe).

    ROWS frames process each batch in (ts, tiebreak) order at once
    (AvailableNow replay delivers whole batches; the sort plays the
    reference's out-of-order buffer). RANGE frames drop rows at or behind
    the already-fired frontier (the reference's late elements) and, when
    the input carries a watermark, HOLD rows until the watermark seals
    their timestamp, then fire in event-time order — keeping cross-batch
    out-of-order rows within the delay correct. Without a watermark they
    process each batch at once. first/last_value/lag under RANGE frames
    are deterministic only given a tiebreak_col (peers enter in tiebreak
    order — the reference's RANGE nondeterminism caveat)."""
    kind, bound = frame
    if kind not in ("rows", "range"):
        raise ValueError(f"unsupported streaming OVER frame: {frame!r}")
    rows = kind == "rows"
    agg_list = list(aggs)
    out_cols = list(dict.fromkeys([*key_cols, ts_col, value_col, *payload_cols]))
    out_schema = _schema_of(sdf, out_cols) + _over_agg_schema(agg_list)
    state_schema = (
        "pend array<struct<" + _schema_of(sdf, out_cols).replace("`", "") + ">>, "
        "frontier bigint, buf array<struct<ts: bigint, v: bigint>>, "
        "acc bigint, cnt bigint, s2 string, mn bigint, mx bigint, "
        "first bigint, dvals array<bigint>, prev bigint"
    )
    fns = {f for f, _ in agg_list}
    span = bound if rows or bound is None else bound * 1_000_000
    held = not rows and (
        "EventTimeWatermark" in sdf._jdf.queryExecution().logical().toString()
    )
    sort_cols = [ts_col, tiebreak_col] if tiebreak_col else [ts_col]

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            pend, frontier, *snap, prev = state.get
        else:
            pend, frontier, prev = [], -(2**62), None
            snap = ([], 0, 0, "0", None, None, None, [])
        acc = _OverAcc(fns, rows, span, snap)
        if rows:
            frames = [pdf[out_cols] for pdf in pdfs]
            out = (
                pd.concat(frames).sort_values(sort_cols)
                if frames
                else pd.DataFrame(columns=out_cols)
            )
        else:
            recs = [dict(zip(out_cols, r)) for r in pend]
            for pdf in pdfs:
                recs += [
                    r for r in pdf[out_cols].to_dict("records")
                    if _to_ms(r[ts_col]) > frontier  # late: already fired
                ]
            if held:
                wm_ms = state.getCurrentWatermarkMs()
                sealed = [r for r in recs if _to_ms(r[ts_col]) <= wm_ms]
                pend = [r for r in recs if _to_ms(r[ts_col]) > wm_ms]
            else:
                sealed, pend = recs, []
            sealed.sort(
                key=lambda r: (r[ts_col], r[tiebreak_col] if tiebreak_col else 0)
            )
            out = pd.DataFrame(sealed, columns=out_cols)
        ts = out[ts_col].to_numpy("datetime64[us]").astype("int64").tolist()
        vals = out[value_col].tolist()
        emit: dict[str, list] = {c: [] for _, c in agg_list}
        i = 0
        while i < len(ts):
            j = i + 1
            while not rows and j < len(ts) and ts[j] == ts[i]:
                j += 1
            lags = []
            for v in vals[i:j]:
                m = _to_micros(v)
                lags.append(None if prev is None else _micros_double(prev))
                acc.add(ts[i], m)
                prev = m
            acc.evict(ts[i])
            for fn_name, cname in agg_list:
                emit[cname].extend(
                    lags if fn_name == "lag" else [acc.value(fn_name)] * (j - i)
                )
            i = j
        if ts:
            frontier = max(frontier, ts[-1] // 1000)
        state.update(
            ([tuple(r[c] for c in out_cols) for r in pend], frontier,
             *acc.snapshot(), prev)
        )
        if held and pend:
            state.setTimeoutTimestamp(
                max(wm_ms + 1, min(_to_ms(r[ts_col]) for r in pend))
            )
        for fn_name, cname in agg_list:
            out[cname] = _over_emit_series(fn_name, emit[cname], out.index)
        yield out

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout if held else GroupStateTimeout.NoTimeout,
    )


def streaming_semi_anti_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    payload_cols: Sequence[str],
    order_col: str,
    anti: bool = False,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Streaming semi/anti join emitting a RowKind-tagged changelog
    (StreamingSemiAntiJoinOperator.java:100-160 semantics, re-derived for
    append-only inputs):

    - a LEFT row arriving with matches present emits +I (semi) / nothing
      (anti); with no matches it emits +I (anti) / nothing (semi) and
      buffers;
    - the FIRST RIGHT row for a key flushes the buffered left rows: +I for
      semi, -D (retraction of the earlier anti emission) for anti; later
      right rows only bump the per-key associated-count.

    State discipline (the 100 TB angle): once a key has seen any right row
    the buffer is empty forever and state is a single counter — per-key
    state is bounded by the unmatched-left prefix, mirroring the
    reference's associated-count bookkeeping (its left record state plus
    lazy cleanup). Both inputs shuffle once, hash-partitioned by the join
    key. Rows are processed in (order_col, tiebreak) order, which makes the
    changelog deterministic under replay."""
    out_cols = list(dict.fromkeys([*key_cols, order_col, *payload_cols]))
    if tiebreak_col and tiebreak_col not in out_cols:
        out_cols.append(tiebreak_col)
    from pyspark.sql import functions as F

    ldt = dict(left.dtypes)
    # the right side contributes only its key and ordering columns; left-only
    # payload columns ride along as typed nulls so the union lines up
    join_side_cols = {*key_cols, order_col}
    if tiebreak_col:
        join_side_cols.add(tiebreak_col)
    lsel = left.select(*out_cols).withColumn("__side", F.lit("L"))
    rsel = right.select(
        *[
            F.col(c) if c in join_side_cols else F.lit(None).cast(ldt[c]).alias(c)
            for c in out_cols
        ]
    ).withColumn("__side", F.lit("R"))
    both = lsel.unionByName(rsel)

    out_schema = _schema_of(left, out_cols) + ", `op` string"
    state_schema = (
        "buf array<struct<" + _schema_of(left, out_cols).replace("`", "") + ">>, rcount bigint"
    )
    cols = [*out_cols, "__side"]

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        buf = [dict(zip(out_cols, r)) for r in (state.get[0] if state.exists else [])]
        rcount = state.get[1] if state.exists else 0
        emitted: list[dict] = []

        def emit(rec: dict, op: str) -> None:
            emitted.append({**{c: rec[c] for c in out_cols}, "op": op})

        recs: list[dict] = []
        for pdf in pdfs:
            recs.extend(pdf[cols].to_dict("records"))
        recs.sort(
            key=lambda r: (r[order_col], r[tiebreak_col] if tiebreak_col else 0)
        )
        for rec in recs:
            if rec["__side"] == "L":
                if rcount > 0:
                    if not anti:
                        emit(rec, "+I")
                else:
                    if anti:
                        emit(rec, "+I")
                    buf.append(rec)
            else:
                prev, rcount = rcount, rcount + 1
                if prev == 0:
                    for b in buf:
                        emit(b, "+I" if not anti else "-D")
                    buf = []
        state.update(
            ([tuple(r[c] for c in out_cols) for r in buf], rcount)
        )
        yield pd.DataFrame(emitted, columns=[*out_cols, "op"])

    return both.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_temporal_proctime_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    left_payload: Sequence[str],
    right_payload: dict[str, str],
    order_col: str,
    tiebreak_col: str | None = None,
    how: str = "left",
) -> DataFrame:
    """Processing-time temporal join (TemporalProcessTimeJoinOperator.java
    semantics, re-derived): each left row joins the LATEST right-side
    version of its key at the moment it is processed — no right-side
    history is kept, just the current row per key, which is exactly the
    reference's single-value temporal state.

    `right_payload` maps output column name -> right column (renaming
    avoids clashes when both sides come from the same table). `how` is
    'left' (emit with nulls before the first right version) or 'inner'
    (suppress until a version exists). Rows are processed in
    (order_col, tiebreak) order so the replayed changelog is
    deterministic; per-key state is ONE right row regardless of stream
    length."""
    out_left = list(dict.fromkeys([*key_cols, order_col, *left_payload]))
    if tiebreak_col and tiebreak_col not in out_left:
        out_left.append(tiebreak_col)
    right_outs = list(right_payload)
    from pyspark.sql import functions as F

    ldt = dict(left.dtypes)
    rdt = dict(right.dtypes)
    lsel = left.select(
        *out_left,
        *[F.lit(None).cast(rdt[src]).alias(o) for o, src in right_payload.items()],
        F.lit("L").alias("__side"),
    )
    join_side = {*key_cols, order_col}
    if tiebreak_col:
        join_side.add(tiebreak_col)
    rsel = right.select(
        *[
            F.col(c) if c in join_side else F.lit(None).cast(ldt[c]).alias(c)
            for c in out_left
        ],
        *[F.col(src).alias(o) for o, src in right_payload.items()],
        F.lit("R").alias("__side"),
    )
    both = lsel.unionByName(rsel)

    rschema = ", ".join(f"`{o}` {rdt[src]}" for o, src in right_payload.items())
    out_schema = _schema_of(left, out_left) + ", " + rschema
    state_schema = "cur struct<" + rschema.replace("`", "") + ">, seen boolean"
    cols = [*out_left, *right_outs, "__side"]

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cur = tuple(state.get[0]) if state.exists and state.get[1] else None
        emitted: list[dict] = []
        recs: list[dict] = []
        for pdf in pdfs:
            recs.extend(pdf[cols].to_dict("records"))
        recs.sort(
            key=lambda r: (r[order_col], r[tiebreak_col] if tiebreak_col else 0)
        )
        for rec in recs:
            if rec["__side"] == "R":
                cur = tuple(rec[o] for o in right_outs)
            else:
                if cur is None and how == "inner":
                    continue
                vals = cur if cur is not None else (None,) * len(right_outs)
                emitted.append(
                    {
                        **{c: rec[c] for c in out_left},
                        **dict(zip(right_outs, vals)),
                    }
                )
        state.update((cur if cur is not None else (None,) * len(right_outs), cur is not None))
        yield pd.DataFrame(emitted, columns=[*out_left, *right_outs])

    return both.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
