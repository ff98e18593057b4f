"""CEP / MATCH_RECOGNIZE: a Pattern API + matcher executed per key as an
Arrow-batched pandas group operation.

Reference parity (algorithm, not code):
- Pattern API surface: flink-libraries/flink-cep/.../pattern/Pattern.java —
  begin:128, where:155, next:262, followedBy:291, optional:332,
  oneOrMore:350, greedy:365, times:379, within:245.
- Engine: flink-cep/.../nfa/NFA.java compiles patterns to an NFA; here the
  same match semantics are produced by a backtracking matcher over the
  per-key event sequence (equivalent for the supported subset, far less
  machinery). Supported: strict (`next`) and relaxed (`followed_by`)
  contiguity, times/one_or_more/optional quantifiers, greedy/reluctant,
  `within` windows, and after-match skip strategies NO_SKIP /
  SKIP_TO_NEXT / SKIP_PAST_LAST (.../nfa/aftermatch/).
- SQL MATCH_RECOGNIZE maps onto this via `match_recognize()` below
  (StreamExecMatch.scala:68 is the reference's gluing layer).

Execution model: batch = groupBy(key).applyInPandas (each key's events sort
by (ts, tiebreak) inside the group — Spark shuffles once by key, the sort is
partition-local, so the operator scales with keys not total rows); streaming
= the same matcher inside applyInPandasWithState with the event buffer as
keyed state, emitting matches as batches arrive.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass, field
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_parent_spark.streaming.stateful import _to_ms

Row = dict[str, Any]
# A predicate takes (row) or (row, ctx) — the matcher inspects arity once.
Predicate = Callable[..., bool]


@dataclass
class MatchCtx:
    """Navigation context for DEFINE-style conditions (SQL MATCH_RECOGNIZE
    PREV/NEXT/FIRST/LAST; reference: MatchCodeGenerator.scala navigation and
    flink-cep IterativeCondition.Context — re-expressed, no code reuse).

    - prev/next navigate the *partition* row sequence relative to the row
      under test (SQL semantics: PREV crosses stage boundaries; returns
      `default` i.e. NULL past either end — conditions comparing against it
      are then false, matching SQL three-valued logic).
    - first/last navigate the rows already mapped to a stage in the current
      match attempt (LAST(B.x) sees the B-rows taken so far, including the
      current quantified run's prefix).
    """

    rows: list[Row]
    idx: int
    taken: list[tuple[str, int]]

    def prev(self, col: str, n: int = 1, default: Any = None) -> Any:
        j = self.idx - n
        return self.rows[j][col] if j >= 0 else default

    def next(self, col: str, n: int = 1, default: Any = None) -> Any:
        j = self.idx + n
        return self.rows[j][col] if j < len(self.rows) else default

    def prev_row(self, n: int = 1) -> "Row | None":
        """Whole-row physical navigation (PREV over an expression): the row
        n positions behind the one under test, or None past the start."""
        j = self.idx - n
        return self.rows[j] if j >= 0 else None

    def next_row(self, n: int = 1) -> "Row | None":
        j = self.idx + n
        return self.rows[j] if j < len(self.rows) else None

    def last(self, stage: str, col: str, default: Any = None) -> Any:
        for name, j in reversed(self.taken):
            if name == stage:
                return self.rows[j][col]
        return default

    def first(self, stage: str, col: str, default: Any = None) -> Any:
        for name, j in self.taken:
            if name == stage:
                return self.rows[j][col]
        return default


def _arity(p: Predicate) -> int:
    """2 iff the predicate REQUIRES a second positional arg (the MatchCtx).
    Default-valued params don't count — `lambda r, c=col: ...` closures are
    the established row-only convention, so a ctx param must be non-default."""
    code = getattr(p, "__code__", None)
    if code is not None:
        required = code.co_argcount - len(getattr(p, "__defaults__", None) or ())
        return 2 if required >= 2 else 1
    import inspect

    try:
        sig = inspect.signature(p)
        required = sum(
            1
            for prm in sig.parameters.values()
            if prm.default is prm.empty
            and prm.kind in (prm.POSITIONAL_ONLY, prm.POSITIONAL_OR_KEYWORD)
        )
        return 2 if required >= 2 else 1
    except (TypeError, ValueError):
        return 1


# Guard rail for the backtracking matcher: max iter_seq invocations per
# match anchor. The reference's NFA is polynomial in (events x states); the
# backtracker is exponential on adversarial quantifier nests, so it fails
# loudly past this budget rather than hanging a task.
MAX_MATCH_STEPS = 1_000_000


class CepComplexityError(RuntimeError):
    """Raised when one match attempt exceeds MAX_MATCH_STEPS backtracking
    steps (adversarial pattern for the backtracking matcher)."""


class AfterMatchSkip:
    """After-match skip strategies (flink-cep/.../nfa/aftermatch/ — NoSkip,
    SkipToNextStrategy, SkipPastLastStrategy, SkipToFirstStrategy,
    SkipToLastStrategy re-derived)."""

    NO_SKIP = "no_skip"
    SKIP_TO_NEXT = "skip_to_next"
    SKIP_PAST_LAST = "skip_past_last"

    @staticmethod
    def skip_to_first(var: str) -> str:
        """Resume matching AT the first row mapped to `var`."""
        return f"skip_to_first:{var}"

    @staticmethod
    def skip_to_last(var: str) -> str:
        """Resume matching AT the last row mapped to `var`."""
        return f"skip_to_last:{var}"


def _next_start(skip: str, m: list[tuple[str, int]], start: int) -> int:
    """Next match-scan cursor after emitting match `m` found at `start`.
    Always advances past `start` (Flink raises on SKIP TO FIRST of the
    pattern's own first variable precisely because it would not advance;
    here the cursor is clamped forward instead of looping)."""
    if skip == AfterMatchSkip.SKIP_PAST_LAST:
        return m[-1][1] + 1
    if skip.startswith("skip_to_first:"):
        var = skip.split(":", 1)[1]
        pos = next((i for s, i in m if s == var), None)
        return max(start + 1, pos) if pos is not None else start + 1
    if skip.startswith("skip_to_last:"):
        var = skip.split(":", 1)[1]
        pos = next((i for s, i in reversed(m) if s == var), None)
        return max(start + 1, pos) if pos is not None else start + 1
    return start + 1  # NO_SKIP / SKIP_TO_NEXT


@dataclass
class _Stage:
    name: str
    preds: list[Predicate] = field(default_factory=list)
    or_preds: list[Predicate] = field(default_factory=list)
    strict: bool = False  # True: `next` contiguity; False: `followed_by`
    min_times: int = 1
    max_times: int = 1  # -1 = unbounded (one_or_more)
    greedy: bool = False
    negated: bool = False  # not_next / not_followed_by (consumes nothing)
    until_pred: Predicate | None = None  # stop condition for looping stages
    consecutive: bool = False  # strict INTERNAL contiguity (Pattern.java:477)
    any_match: bool = False  # followedByAny: branch on every start (:322)
    combinations: bool = False  # allowCombinations: all subsets (:437)
    group: "Pattern | None" = None  # group pattern stage (:491-543)

    def accepts(self, row: Row, ctx: "MatchCtx | None" = None) -> bool:
        def ev(p: Predicate) -> bool:
            return p(row) if _arity(p) == 1 else p(row, ctx)

        base = all(ev(p) for p in self.preds) if self.preds else True
        if self.or_preds:
            return base or any(ev(p) for p in self.or_preds)
        return base


class Pattern:
    """Fluent CEP pattern builder (Pattern.java surface subset)."""

    def __init__(self, stages: list[_Stage], within: _dt.timedelta | None = None):
        self._stages = stages
        self._within = within

    # --- construction -------------------------------------------------------

    @staticmethod
    def begin(name: "str | Pattern") -> "Pattern":
        """begin(name) or begin(groupPattern) (Pattern.java:128 / GroupPattern
        begin:491): a Pattern argument starts a group stage whose quantifiers
        apply to the whole sub-pattern."""
        return Pattern([Pattern._mk_stage(name, strict=False)])

    @staticmethod
    def _mk_stage(name_or_pat: "str | Pattern", strict: bool) -> _Stage:
        if isinstance(name_or_pat, Pattern):
            return _Stage("<group>", strict=strict, group=name_or_pat)
        return _Stage(name_or_pat, strict=strict)

    def where(self, pred: Predicate) -> "Pattern":
        self._stages[-1].preds.append(pred)
        return self

    def or_where(self, pred: Predicate) -> "Pattern":
        self._stages[-1].or_preds.append(pred)
        return self

    def next(self, name: "str | Pattern") -> "Pattern":
        self._stages.append(Pattern._mk_stage(name, strict=True))
        return self

    def followed_by(self, name: "str | Pattern") -> "Pattern":
        self._stages.append(Pattern._mk_stage(name, strict=False))
        return self

    def followed_by_any(self, name: "str | Pattern") -> "Pattern":
        """Non-deterministic relaxed contiguity (Pattern.java followedByAny
        :322): the stage branches on EVERY qualifying event after the
        previous stage, not just the first — each branch is a distinct
        match."""
        st = Pattern._mk_stage(name, strict=False)
        st.any_match = True
        self._stages.append(st)
        return self

    def not_next(self, name: str) -> "Pattern":
        """Negative strict stage (Pattern.java notNext:273): the row
        immediately after the previous stage must NOT match. Consumes no
        rows."""
        self._stages.append(_Stage(name, strict=True, negated=True))
        return self

    def not_followed_by(self, name: str) -> "Pattern":
        """Negative relaxed stage (Pattern.java notFollowedBy:304): NO row
        between the previous stage and the next positive stage's match may
        match. Cannot be the pattern's last stage (Flink's restriction for
        the un-`within`-bounded case; kept unconditionally here)."""
        self._stages.append(_Stage(name, strict=False, negated=True))
        return self

    def _quantifiable(self) -> _Stage:
        s = self._stages[-1]
        if s.negated:
            raise ValueError("negative pattern stages cannot take quantifiers")
        return s

    def optional(self) -> "Pattern":
        self._quantifiable().min_times = 0
        return self

    def one_or_more(self) -> "Pattern":
        s = self._quantifiable()
        s.min_times, s.max_times = 1, -1
        return self

    def times(self, m: int, n: int | None = None) -> "Pattern":
        s = self._quantifiable()
        s.min_times, s.max_times = m, (n if n is not None else m)
        return self

    def greedy(self) -> "Pattern":
        self._stages[-1].greedy = True
        return self

    def consecutive(self) -> "Pattern":
        """Strict INTERNAL contiguity for a looping stage (Pattern.java
        consecutive:477): the quantified run may not skip non-matching rows
        between repetitions. Without it, looping stages use Flink's default
        relaxed internal contiguity."""
        self._quantifiable().consecutive = True
        return self

    def allow_combinations(self) -> "Pattern":
        """Non-deterministic relaxed internal contiguity (Pattern.java
        allowCombinations:437): the quantified run branches on every ordered
        subset of the qualifying rows (first row fixed at the stage's start),
        each a distinct match."""
        self._quantifiable().combinations = True
        return self

    def until(self, pred: Predicate) -> "Pattern":
        """Stop condition for a looping stage (Pattern.java until:219): the
        quantified run stops accepting rows once `pred` holds; the stopping
        row itself is not taken."""
        self._stages[-1].until_pred = pred
        return self

    def subtype(self, type_value: Any, type_col: str = "event_type") -> "Pattern":
        """Type refinement (Pattern.java subtype:196): in the row-schema
        world the Java-class check becomes an equality on the discriminator
        column."""
        self._stages[-1].preds.append(
            lambda r, _v=type_value, _c=type_col: r[_c] == _v
        )
        return self

    def within(self, duration: _dt.timedelta) -> "Pattern":
        self._within = duration
        return self

    # --- matching -----------------------------------------------------------

    def _match_from(
        self, rows: list[Row], start: int, ts_col: str
    ) -> list[tuple[str, int]] | None:
        """Try to match the whole pattern with stage 0 starting at `start`.
        Returns [(stage_name, row_index), ...] or None."""
        return self._match_from2(rows, start, ts_col)[0]

    def _match_from2(
        self, rows: list[Row], start: int, ts_col: str, future_lb=None
    ) -> tuple[list[tuple[str, int]] | None, bool]:
        """Like `_match_from`, plus frontier awareness for streaming.

        If `future_lb` is not None, `rows` is the sealed prefix of a growing
        stream and every future event has ts > `future_lb` (the watermark).
        Returns (match, pending): `pending` is True when the attempt failed
        but some branch ran off the sealed frontier while the `within`
        deadline was still open — i.e. future events could complete it, so
        the streaming operator must keep these rows buffered (the NFA-run-
        stays-in-state behavior of CepOperator/NFA.java, re-derived)."""
        pending = [False]
        m = next(self._iter_from(rows, start, ts_col, future_lb, pending), None)
        return m, (m is None and pending[0])

    def _iter_from(
        self, rows: list[Row], start: int, ts_col: str, future_lb, pending
    ) -> Iterator[list[tuple[str, int]]]:
        """Generate every match of the pattern anchored at `start`, in
        preference order (greedy/reluctant choice first). For patterns with
        no `followed_by_any`/`allow_combinations` stages exactly the first
        yield is the deterministic match (the engine commits to the first
        successful branch, mirroring the previous backtracker); the `any`
        combinators disable that commit so every branch becomes a distinct
        match (NFA.java's non-deterministic state splits, re-derived as
        continuation-passing backtracking)."""
        if self._stages[-1].negated:
            raise ValueError("negative pattern cannot be the last stage")
        deadline = None
        if self._within is not None:
            deadline = rows[start][ts_col] + self._within
        n = len(rows)
        open_ended = future_lb is not None
        steps = [0]

        def frontier_open() -> bool:
            return open_ended and (deadline is None or deadline > future_lb)

        def in_deadline(i: int) -> bool:
            return deadline is None or rows[i][ts_col] <= deadline

        def until_hit(st: _Stage, i: int, taken) -> bool:
            if st.until_pred is None:
                return False
            if _arity(st.until_pred) == 1:
                return st.until_pred(rows[i])
            return st.until_pred(rows[i], MatchCtx(rows, i, taken))

        def accept_run(st: _Stage, s0: int, acc) -> list[int]:
            """Ordered indices a quantified run starting at s0 can take.
            Internal contiguity: consecutive => a non-matching row ends the
            run; default (Flink relaxed) => non-matching rows between
            repetitions are skipped."""
            seq: list[int] = []
            taken = list(acc)
            i = s0
            while i < n and in_deadline(i) and (
                st.max_times == -1 or len(seq) < st.max_times
            ):
                if until_hit(st, i, taken):
                    break
                if st.accepts(rows[i], MatchCtx(rows, i, taken)):
                    seq.append(i)
                    taken.append((st.name, i))
                    i += 1
                elif seq and not st.consecutive and st.max_times != 1:
                    i += 1  # relaxed internal contiguity: skip and continue
                else:
                    break
            if (
                i >= n
                and frontier_open()
                and len(seq) < st.min_times
                and (st.max_times == -1 or len(seq) < st.max_times)
            ):
                # the run stopped at the data frontier short of min_times:
                # future rows could still complete it
                pending[0] = True
            return seq

        def run_choices(st: _Stage, seq: list[int]) -> Iterator[list[int]]:
            lo, hi = st.min_times, len(seq)
            if st.combinations:
                import itertools as _it

                sizes = range(hi, lo - 1, -1) if st.greedy else range(lo, hi + 1)
                for size in sizes:
                    if size == 0:
                        yield []
                    else:
                        # the run is anchored: seq[0] is always taken
                        for rest in _it.combinations(seq[1:], size - 1):
                            yield [seq[0], *rest]
                return
            if st.greedy and st.consecutive:
                # NFACompiler.updateWithGreedyCondition parity: every proceed
                # transition out of a greedy state is guarded by NOT(take),
                # so a greedy CONSECUTIVE run is POSSESSIVE — it binds its
                # maximal length and never backtracks to a shorter repetition
                # count. MatchRecognizeITCase testLogicalOffsets pins this:
                # prices (19,17,13,20) must NOT match DOWN{2,} UP via the
                # shortened run DOWN=[19,17], UP=13. SQL MATCH_RECOGNIZE
                # loops always translate to greedy+consecutive
                # (StreamExecMatch.scala applyQuantifier), so this is the
                # SQL-default loop semantics. Relaxed-contiguity greedy
                # (CEP Pattern API) keeps longest-first backtracking: there
                # the NFA's ignore transitions make proceed-at-a-failed-row
                # reachable, which maximal-only would lose.
                yield list(seq)
                return
            order = range(hi, lo - 1, -1) if st.greedy else range(lo, hi + 1)
            for k in order:
                yield seq[:k]

        def iter_seq(stages, si, pos, acc, neg, anchor, cont):
            """Match stages[si:] from row `pos`; on completion delegate to
            `cont(pos_after, acc)`. `anchor` pins stage si's start (pattern
            head / group repetition head)."""
            # backtracking guard: the reference's NFA (NFA.java) stays
            # polynomial in (events x states); this matcher is worst-case
            # exponential on adversarial quantifier nests — fail loudly
            # instead of hanging.
            steps[0] += 1
            if steps[0] > MAX_MATCH_STEPS:
                raise CepComplexityError(
                    f"CEP match exceeded {MAX_MATCH_STEPS} backtracking "
                    f"steps at one anchor (rows={n}); the pattern's "
                    "quantifier structure is adversarial for the "
                    "backtracking matcher — simplify it (consecutive() on "
                    "loops, a within() bound) or raise cep.MAX_MATCH_STEPS"
                )
            if si == len(stages):
                yield from cont(pos, acc)
                return
            st = stages[si]
            anchored = si == 0 and anchor is not None

            if st.negated:
                if st.strict:  # not_next: the row at pos must not match
                    if pos < n and st.accepts(rows[pos], MatchCtx(rows, pos, acc)):
                        return
                    if pos >= n and frontier_open():
                        pending[0] = True
                        return
                    yield from iter_seq(stages, si + 1, pos, acc, None, None, cont)
                    return
                # not_followed_by: constrain the gap before the next
                # positive stage's start (checked in its starts loop)
                yield from iter_seq(stages, si + 1, pos, acc, st, None, cont)
                return

            if anchored:
                starts = [anchor]
            elif st.strict:
                if pos >= n:
                    if frontier_open():
                        pending[0] = True
                    elif st.min_times == 0:
                        # data ends exactly where an optional stage would
                        # start: skip it (SQL trailing optional — PATTERN
                        # (A B D?) matching A B on the last rows). With the
                        # frontier open the attempt stays pending instead;
                        # the sealed re-scan completes it and
                        # _match_extendable governs the hold.
                        yield from iter_seq(
                            stages, si + 1, pos, acc, None, None, cont
                        )
                    return
                starts = [pos]
            else:  # relaxed: scan forward; future rows add start positions
                if pos >= n:
                    if frontier_open():
                        pending[0] = True
                    elif st.min_times == 0:
                        # trailing relaxed optional at end of data: skip
                        yield from iter_seq(
                            stages, si + 1, pos, acc, None, None, cont
                        )
                    return
                starts = range(pos, n)
                if frontier_open():
                    pending[0] = True

            for s0 in starts:
                if neg is not None and any(
                    neg.accepts(rows[j], MatchCtx(rows, j, acc))
                    for j in range(pos, s0)
                ):
                    # a row matching the negated stage sits in the gap; all
                    # later start positions contain it too
                    break
                sub = (
                    iter_group(stages, si, st, s0, acc, cont)
                    if st.group is not None
                    else iter_simple(stages, si, st, s0, acc, cont)
                )
                produced = False
                for sol in sub:
                    produced = True
                    yield sol
                if anchored or st.strict:
                    break
                if produced and not st.any_match:
                    break  # plain followed_by commits to the first viable start
            return

        def iter_simple(stages, si, st, s0, acc, cont):
            seq = accept_run(st, s0, acc)
            if len(seq) < st.min_times:
                if st.min_times == 0:
                    yield from iter_seq(stages, si + 1, s0, acc, None, None, cont)
                return
            for choice in run_choices(st, seq):
                if not choice:
                    sub = iter_seq(stages, si + 1, s0, acc, None, None, cont)
                else:
                    taken = [(st.name, j) for j in choice]
                    sub = iter_seq(
                        stages, si + 1, choice[-1] + 1, acc + taken, None, None, cont
                    )
                produced = False
                for sol in sub:
                    produced = True
                    yield sol
                if produced and not (st.combinations or st.any_match):
                    return  # plain quantifier commits to the first viable k

        def iter_group(stages, si, st, s0, acc, cont):
            """Group stage: the quantifier repeats the whole sub-pattern.
            Repetition k+1 starts strictly after repetition k; between
            repetitions contiguity is relaxed unless consecutive()."""
            inner = st.group._stages

            def after_rep(count):
                def k(pos2, acc2):
                    def close():
                        yield from iter_seq(stages, si + 1, pos2, acc2, None, None, cont)

                    def extend():
                        if st.max_times != -1 and count >= st.max_times:
                            return
                        if count == 0:
                            starts2 = [pos2]  # first repetition is anchored
                        elif st.consecutive:
                            starts2 = [pos2]
                        else:
                            starts2 = range(pos2, n)
                            if frontier_open():
                                pending[0] = True
                        for t0 in starts2:
                            produced2 = False
                            for sol in iter_seq(
                                inner, 0, t0, acc2, None, t0, after_rep(count + 1)
                            ):
                                produced2 = True
                                yield sol
                            if produced2 and not st.any_match:
                                break

                    if count < st.min_times:
                        branches = [extend]
                    elif st.greedy:
                        branches = [extend, close]
                    else:
                        branches = [close, extend]
                    for br in branches:
                        produced = False
                        for sol in br():
                            produced = True
                            yield sol
                        if produced and not (st.combinations or st.any_match):
                            return

                return k

            yield from after_rep(0)(s0, list(acc))

        def final(pos, acc):
            yield list(acc)

        yield from iter_seq(self._stages, 0, start, [], None, start, final)

    def _has_enumeration(self) -> bool:
        """True when any stage (including group sub-patterns) uses the
        non-deterministic combinators, so every branch is its own match."""
        for st in self._stages:
            if st.any_match or st.combinations:
                return True
            if st.group is not None and st.group._has_enumeration():
                return True
        return False

    def find_matches(
        self,
        rows: list[Row],
        ts_col: str,
        skip: str = AfterMatchSkip.SKIP_PAST_LAST,
    ) -> list[list[tuple[str, int]]]:
        """All matches over a sorted event list under the skip strategy.

        With `followed_by_any`/`allow_combinations` stages every branch from
        a start position is emitted as its own match (Flink's
        non-deterministic runs); the skip strategy then advances from the
        preferred (first-yielded) match — NO_SKIP is the reference's usual
        pairing in the NFAITCase suites."""
        out = []
        start = 0
        enumerate_all = self._has_enumeration()
        pending = [False]
        while start < len(rows):
            if enumerate_all:
                sols: list[list[tuple[str, int]]] = []
                seen = set()
                for m in self._iter_from(rows, start, ts_col, None, pending):
                    key = tuple(m)
                    if key not in seen:
                        seen.add(key)
                        sols.append(m)
                if not sols:
                    start += 1
                    continue
                out.extend(sols)
                start = _next_start(skip, sols[0], start)
            else:
                m = self._match_from(rows, start, ts_col)
                if m is None:
                    start += 1
                    continue
                out.append(m)
                start = _next_start(skip, m, start)
        return out


def find_matches_any(
    patterns: "Sequence[Pattern]",
    rows: list[Row],
    ts_col: str,
    skip: str = AfterMatchSkip.SKIP_PAST_LAST,
) -> list[list[tuple[str, int]]]:
    """Leftmost-preferred alternation over whole patterns — the expansion
    Calcite gives `PERMUTE(A, B)` = `(A B | B A)` (SqlMatchRecognize /
    Flink MatchCodeGenerator.scala): at each scan position the FIRST
    pattern in `patterns` that matches wins, then the skip strategy
    advances exactly as in `Pattern.find_matches`."""
    out: list[list[tuple[str, int]]] = []
    start = 0
    while start < len(rows):
        m = None
        for p in patterns:
            m = p._match_from(rows, start, ts_col)
            if m is not None:
                break
        if m is None:
            start += 1
            continue
        out.append(m)
        start = _next_start(skip, m, start)
    return out


MATCH_SCHEMA_SUFFIX = (
    "`match_id` bigint, `stage` string, `seq` int, `event_ts` timestamp"
)


def cep_pattern(
    df: DataFrame,
    pattern: Pattern,
    key_cols: Sequence[str],
    ts_col: str,
    id_col: str,
    skip: str = AfterMatchSkip.SKIP_PAST_LAST,
    exclude: frozenset[str] | set[str] = frozenset(),
    alternatives: "Sequence[Pattern] | None" = None,
) -> DataFrame:
    """Batch CEP: one output row per matched event:
    (key..., event id, match_id (per-key ordinal), stage, seq, event_ts).

    `exclude`: stage names matched but not emitted (SQL MATCH_RECOGNIZE
    {- X -} output exclusion); seq numbers the emitted rows only.
    `alternatives`: additional whole-pattern variants tried in preference
    order after `pattern` at each position (PERMUTE expansion)."""
    dt = dict(df.dtypes)
    key_schema = ", ".join(f"`{c}` {dt[c]}" for c in key_cols)
    out_schema = f"{key_schema}, `{id_col}` {dt[id_col]}, " + MATCH_SCHEMA_SUFFIX
    cols = list(df.columns)
    pats = [pattern, *(alternatives or [])]

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts_col, id_col])
        rows = pdf[cols].to_dict("records")
        if len(pats) > 1:
            matches = find_matches_any(pats, rows, ts_col, skip)
        else:
            matches = pattern.find_matches(rows, ts_col, skip)
        recs = []
        for mid, m in enumerate(matches):
            emitted = [(s, i) for s, i in m if s not in exclude]
            for seq, (stage, idx) in enumerate(emitted):
                r = rows[idx]
                recs.append(
                    {
                        **{k: r[k] for k in key_cols},
                        id_col: r[id_col],
                        "match_id": mid,
                        "stage": stage,
                        "seq": seq,
                        "event_ts": r[ts_col],
                    }
                )
        return pd.DataFrame(
            recs,
            columns=[*key_cols, id_col, "match_id", "stage", "seq", "event_ts"],
        )

    return df.groupBy(*key_cols).applyInPandas(per_key, out_schema)


def cep_pattern_stream(
    sdf: DataFrame,
    pattern: Pattern,
    key_cols: Sequence[str],
    ts_col: str,
    id_col: str,
    skip: str = AfterMatchSkip.SKIP_PAST_LAST,
    nav_prev_depth: int = 0,
) -> DataFrame:
    """Streaming CEP without a watermark (processing-time arrival order,
    Flink's no-event-time CepOperator mode): keyed state buffers events;
    each batch appends, sorts, emits finalized matches and GARBAGE-COLLECTS
    everything before the scan frontier — for every skip strategy, not just
    SKIP_PAST_LAST, so per-key state is bounded by the open (pending or
    growable) suffix rather than the whole history. Matches that could
    still grow with future rows are held in state like the watermark-held
    variant; out-of-order corrections are NOT possible in this mode (use
    `cep_pattern_stream_watermarked`). `nav_prev_depth` keeps the last N
    consumed rows as PREV() navigation context past the GC boundary (see
    cep_pattern_stream_watermarked). NOTE: this mode sorts the whole
    retained buffer each batch, so context rows are only a stable prefix
    when arrival is per-key ordered — the watermark-held variant is the
    hardened deployment for PREV."""
    dt = dict(sdf.dtypes)
    key_schema = ", ".join(f"`{c}` {dt[c]}" for c in key_cols)
    out_schema = f"{key_schema}, `{id_col}` {dt[id_col]}, " + MATCH_SCHEMA_SUFFIX
    cols = list(sdf.columns)
    buf_schema = (
        "buf array<struct<" + ", ".join(f"{c}: {dt[c]}" for c in cols) + ">>, "
        "emitted bigint, ctx int"
    )

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        buf_rows: list[tuple] = list(state.get[0]) if state.exists else []
        emitted = state.get[1] if state.exists else 0
        ctx = (state.get[2] or 0) if state.exists else 0
        rows = [dict(zip(cols, r)) for r in buf_rows]
        ctx_ident = [(rows[i][ts_col], rows[i][id_col]) for i in range(ctx)]
        for pdf in pdfs:
            rows.extend(pdf[cols].to_dict("records"))
        rows.sort(key=lambda r: (r[ts_col], r[id_col]))
        if ctx and [(r[ts_col], r[id_col]) for r in rows[:ctx]] != ctx_ident:
            # PREV() navigation context is only a stable prefix when arrival
            # is per-key ordered: a new row sorting before the context
            # boundary would silently be treated as already-consumed (missed
            # match) or shift consumed rows back into the scan (duplicate
            # match). Fail loudly; the watermark-held operator is the
            # hardened deployment for PREV under out-of-order arrival.
            raise ValueError(
                "cep_pattern_stream: out-of-order arrival broke the PREV() "
                "navigation-context prefix (a new row sorted before the "
                "consumed-context boundary). Use "
                "cep_pattern_stream_watermarked for out-of-order input."
            )
        # Without a watermark the finalization clock is the max sealed event
        # time: rows only append at the tail after sorting, so once an event
        # past a pattern's `within` deadline arrives, partial matches behind
        # that deadline can never complete (close them → frontier GC) and
        # growable completed matches are final (emit them). Patterns with no
        # `within` keep the frontier open indefinitely, as before.
        if rows:
            clock = rows[-1][ts_col]
            clock_ms = int(pd.Timestamp(clock).value // 1_000_000)
        else:
            clock, clock_ms = pd.Timestamp.min, None
        recs, n_emitted_now, retain_from = _scan_frontier(
            pattern, rows, len(rows), key_cols, ts_col, id_col, skip,
            emitted, future_lb=clock, wm_ms=clock_ms, start_at=ctx,
        )
        keep_from = max(0, retain_from - nav_prev_depth)
        remainder = rows[keep_from:]
        state.update(
            (
                [tuple(r[c] for c in cols) for r in remainder],
                emitted + n_emitted_now,
                retain_from - keep_from,
            )
        )
        yield pd.DataFrame(
            recs, columns=[*key_cols, id_col, "match_id", "stage", "seq", "event_ts"]
        )

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, buf_schema, "update", GroupStateTimeout.NoTimeout
    )


def _stage_answers_to(st: _Stage, name: str) -> bool:
    """True when `name` is this stage's own name or (recursively) the name of
    a stage inside its group sub-pattern — matches record inner-stage names
    while the owning top-level stage is named '<group>'."""
    if st.name == name:
        return True
    if st.group is not None:
        return any(_stage_answers_to(inner, name) for inner in st.group._stages)
    return False


def _final_stage_index(stages: list[_Stage], m: list[tuple[str, int]]) -> int:
    """Index in `stages` of the last *matched* stage of m (trailing optional
    stages may be absent from the match)."""
    last_name = m[-1][0]
    for i in range(len(stages) - 1, -1, -1):
        if _stage_answers_to(stages[i], last_name):
            return i
    return len(stages) - 1


def _match_extendable(pat: Pattern, m: list[tuple[str, int]], n_sealed: int) -> bool:
    """Could a future (unsealed) event still grow this match?

    Mirrors the reason Flink's NFA holds a completed-but-growable match in
    state rather than emitting (NFA.java computeNextStates: a run in a
    greedy/looping state stays pending until an event fails the predicate or
    the `within` timer fires). Our quantified runs are contiguous, so growth
    requires the match to end at the seal boundary; trailing skipped-optional
    stages with relaxed contiguity can match any future row regardless.
    """
    last_idx = m[-1][1]
    at_edge = last_idx == n_sealed - 1
    si = _final_stage_index(pat._stages, m)
    st = pat._stages[si]
    if st.max_times != 1:
        taken = sum(1 for s, _ in m if s == st.name)
        headroom = st.max_times == -1 or taken < st.max_times
        # a quantified run with headroom (unbounded, or times(m,n) with
        # taken < n) can still grow: always when it ends at the seal
        # boundary; for relaxed internal contiguity even past non-matching
        # sealed rows — but only a `within` bound can ever finalize that
        # hold, so without one the match emits at the boundary instead
        # (documented trade; Flink leaks such runs in state forever).
        if headroom and at_edge:
            return True
        if headroom and not st.consecutive and pat._within is not None:
            return True
    for t in pat._stages[si + 1 :]:
        if t.min_times != 0:
            break
        if not t.strict or at_edge:
            return True
    return False


def _scan_frontier(
    pattern: Pattern,
    rows: list[Row],
    n_sealed: int,
    key_cols: Sequence[str],
    ts_col: str,
    id_col: str,
    skip: str,
    emitted: int,
    future_lb,
    wm_ms: int | None,
    alternatives: "Sequence[Pattern] | None" = None,
    emit=None,
    start_at: int = 0,
) -> tuple[list[dict], int, int]:
    """Shared frontier scan for both streaming CEP operators.

    Walks the sealed prefix emitting finalized matches; stops at the first
    position that must stay buffered (a pending partial match or a
    still-growable completed match). Returns (records, n_emitted,
    retain_from) where `retain_from` is the first row index that must remain
    in keyed state — everything before it is garbage-collected by the
    caller, for every skip strategy (the frontier-GC the reference gets
    from NFA run pruning + state cleanup in CepOperator).

    `start_at`: first row index eligible to START a match — rows before it
    are pure navigation context (already consumed in a previous scan, kept
    only so PREV() physical-offset navigation in DEFINE can reach behind
    the GC boundary); they stay visible to MatchCtx but are never
    rescanned.

    `alternatives`: further whole-pattern variants in preference order
    (PERMUTE expansion, find_matches_any parity). A later-preference match
    is NOT finalized while an earlier-preference pattern is still pending
    at the same position — the preferred alternative must get its chance
    to complete with future events.
    `emit(match, sealed_rows, match_ordinal) -> list[dict]`: custom match
    emission (ONE ROW PER MATCH + MEASURES); default is per-event rows."""
    sealed = rows[:n_sealed]
    pats = [pattern, *(alternatives or [])]
    recs: list[dict] = []
    start = start_at
    retain_from = None
    n_emitted_now = 0
    while start < n_sealed:
        m, matched_pat, pend = None, None, False
        for p in pats:
            pm, ppend = p._match_from2(sealed, start, ts_col, future_lb=future_lb)
            if pm is not None:
                # a completed match at this preference wins outright: any
                # still-pending LOWER-preference alternative cannot change
                # the outcome, so do not hold (and do not pin state) for it
                m, matched_pat = pm, p
                break
            if ppend:
                # a higher-preference alternative could still complete here:
                # hold before accepting any later-preference match
                pend = True
                break
        if m is None:
            if pend:
                # future events could still complete a match from this row —
                # everything from here stays buffered and nothing beyond may
                # be consumed yet
                retain_from = start
                break
            start += 1
            continue
        growable = _match_extendable(matched_pat, m, n_sealed)
        if growable and matched_pat._within is not None and wm_ms is not None:
            # window closed per watermark => the match is final after all
            first_ts = sealed[m[0][1]][ts_col]
            if wm_ms > int(pd.Timestamp(first_ts + matched_pat._within).value // 1_000_000):
                growable = False
        if growable:
            retain_from = m[0][1] if skip != AfterMatchSkip.SKIP_PAST_LAST else start
            break
        if emit is not None:
            recs.extend(emit(m, sealed, emitted + n_emitted_now))
        else:
            for seq, (stage, idx) in enumerate(m):
                r = sealed[idx]
                recs.append(
                    {
                        **{k: r[k] for k in key_cols},
                        id_col: r[id_col],
                        "match_id": emitted + n_emitted_now,
                        "stage": stage,
                        "seq": seq,
                        "event_ts": r[ts_col],
                    }
                )
        n_emitted_now += 1
        start = _next_start(skip, m, start)
    if retain_from is None:
        retain_from = start
    return recs, n_emitted_now, retain_from


def cep_pattern_stream_watermarked(
    sdf: DataFrame,
    pattern: Pattern,
    key_cols: Sequence[str],
    ts_col: str,
    id_col: str,
    skip: str = AfterMatchSkip.SKIP_PAST_LAST,
    exclude: frozenset[str] | set[str] = frozenset(),
    alternatives: "Sequence[Pattern] | None" = None,
    emit=None,
    emit_schema_suffix: str | None = None,
    emit_columns: "Sequence[str] | None" = None,
    nav_prev_depth: int = 0,
) -> DataFrame:
    """Watermark-held streaming CEP (the hardened variant of
    `cep_pattern_stream`).

    Semantics (CepOperator.java parity — on watermark advance the NFA
    processes buffered elements with timestamp <= watermark in event-time
    order, drops later-than-watermark input, and holds growable runs):
    - events buffer in keyed state; only the *sealed* prefix (event time <=
      current watermark) is eligible for matching, so out-of-order arrivals
      within the watermark delay are sorted into place before any match can
      use or skip them;
    - incoming rows at or behind the watermark are dropped (Flink CEP
      late-event behavior);
    - a completed match that could still grow with future events (greedy
      unbounded tail or pending optional tail ending at the seal boundary)
      is held in state, not emitted, unless its `within` window has closed
      per the watermark;
    - an event-time timeout re-fires the key when the watermark passes the
      buffer, so matches flush without needing new per-key input.

    `sdf` must already carry `withWatermark(ts_col, delay)`.

    `exclude` ({- -} output exclusion), `alternatives` (PERMUTE), and
    `emit`/`emit_schema_suffix`/`emit_columns` (ONE ROW PER MATCH +
    MEASURES) complete the streaming clause set (StreamExecMatch.scala:68
    runs the full set on streams).

    `nav_prev_depth`: when DEFINE predicates navigate with PREV()
    (physical partition offset — MatchCtx.prev), the last N consumed rows
    must stay in state as NAVIGATION CONTEXT after the frontier GC, or a
    later match's PREV would see NULL where the reference sees the real
    row behind the previous match. Context rows are never rescanned
    (start_at) and bound state by N per key.
    """
    dt = dict(sdf.dtypes)
    key_schema = ", ".join(f"`{c}` {dt[c]}" for c in key_cols)
    if emit is not None:
        out_schema = f"{key_schema}, " + emit_schema_suffix
        out_columns = [*key_cols, *emit_columns]
    else:
        out_schema = f"{key_schema}, `{id_col}` {dt[id_col]}, " + MATCH_SCHEMA_SUFFIX
        out_columns = [*key_cols, id_col, "match_id", "stage", "seq", "event_ts"]
        if exclude:
            base_emit_exclude = frozenset(exclude)

            def emit(m, sealed, match_ordinal, _ex=base_emit_exclude):  # noqa: A001
                out = []
                kept = [(s, i) for s, i in m if s not in _ex]
                for seq, (stage, idx) in enumerate(kept):
                    r = sealed[idx]
                    out.append(
                        {
                            **{k: r[k] for k in key_cols},
                            id_col: r[id_col],
                            "match_id": match_ordinal,
                            "stage": stage,
                            "seq": seq,
                            "event_ts": r[ts_col],
                        }
                    )
                return out

    cols = list(sdf.columns)
    buf_schema = (
        "buf array<struct<" + ", ".join(f"{c}: {dt[c]}" for c in cols) + ">>, "
        "emitted bigint, ctx int"
    )

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        import numpy as np  # noqa: PLC0415

        wm_ms = state.getCurrentWatermarkMs()
        buf_rows: list[tuple] = list(state.get[0]) if state.exists else []
        emitted = state.get[1] if state.exists else 0
        ctx = (state.get[2] or 0) if state.exists else 0
        rows = [dict(zip(cols, r)) for r in buf_rows]
        new_rows: list[dict] = []
        for pdf in pdfs:
            if wm_ms > 0 and len(pdf):
                # Flink CEP drops elements at/behind the watermark —
                # vectorized (one datetime64 column op) instead of a
                # per-row pd.Timestamp conversion; the [ms] cast floors
                # exactly like _to_ms() and is unit-proof (ns/us inputs)
                ms = (
                    pdf[ts_col]
                    .to_numpy()
                    .astype("datetime64[ms]")
                    .astype("int64")
                )
                if (ms <= wm_ms).any():
                    pdf = pdf[ms > wm_ms]
            new_rows.extend(pdf[cols].to_dict("records"))
        # The state buffer is STORED sorted (the remainder of a sorted
        # list); appending the batch and re-sorting looks O(B log B) but
        # timsort detects the sorted prefix as one run and galloping-
        # merges the new tail in ~O(B + k log k) at C speed — measured
        # faster than a Python-level heapq.merge of the two sorted parts
        # (r14 A/B on the 2.5M-event corpus, outputs hash-identical).
        rows.extend(new_rows)
        rows.sort(key=lambda r: (r[ts_col], r[id_col]))
        # sealed prefix via one vectorized datetime64[ms] floor + binary
        # search (rows are sorted by ts) instead of a per-row
        # pd.Timestamp conversion loop
        if rows:
            ms_arr = np.array(
                [r[ts_col] for r in rows], dtype="datetime64[ms]"
            ).astype("int64")
            n_sealed = int(np.searchsorted(ms_arr, wm_ms, side="right"))
        else:
            n_sealed = 0

        wm_ts = pd.Timestamp(wm_ms, unit="ms") if wm_ms > 0 else None
        recs, n_emitted_now, retain_from = _scan_frontier(
            pattern, rows, n_sealed, key_cols, ts_col, id_col, skip,
            emitted, future_lb=wm_ts, wm_ms=wm_ms,
            alternatives=alternatives, emit=emit, start_at=ctx,
        )
        cut = min(retain_from, n_sealed)
        keep_from = max(0, cut - nav_prev_depth)
        new_ctx = cut - keep_from
        remainder = rows[keep_from:]
        if remainder:
            state.update(
                (
                    [tuple(r[c] for c in cols) for r in remainder],
                    emitted + n_emitted_now,
                    new_ctx,
                )
            )
            # re-fire when the watermark moves past currently-unsealed
            # rows; pure navigation context needs no flush, so only live
            # (non-context) rows arm the timer
            if len(remainder) > new_ctx:
                state.setTimeoutTimestamp(
                    max(wm_ms + 1, _to_ms(remainder[new_ctx][ts_col]))
                )
        elif state.exists:
            state.remove()
        yield pd.DataFrame(recs, columns=out_columns)

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, buf_schema, "update", GroupStateTimeout.EventTimeTimeout
    )


def match_recognize(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: str,
    id_col: str,
    define: dict[str, Predicate],
    pattern_seq: Sequence[str],
    within: _dt.timedelta | None = None,
    skip: str = AfterMatchSkip.SKIP_PAST_LAST,
) -> DataFrame:
    """SQL MATCH_RECOGNIZE surface: PATTERN (A B+ C?) expressed as
    pattern_seq entries 'A', 'B+', 'C?', with DEFINE predicates."""
    pat: Pattern | None = None
    for token in pattern_seq:
        name = token.rstrip("+*?")
        suffix = token[len(name):]
        pat = Pattern.begin(name) if pat is None else pat.followed_by(name)
        if name in define:
            pat = pat.where(define[name])
        if suffix == "+":
            # SQL rows are consecutive by definition: B+ may not skip rows
            pat = pat.one_or_more().greedy().consecutive()
        elif suffix == "?":
            pat = pat.optional()
        elif suffix == "*":
            pat = pat.times(0, None).consecutive()
            pat._stages[-1].max_times = -1
            pat._stages[-1].greedy = True
    if within is not None:
        pat = pat.within(within)
    return cep_pattern(df, pat, partition_by, order_by, id_col, skip)
