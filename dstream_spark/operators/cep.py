"""Streaming CEP (complex-event-processing) pattern detection,
parameterized over the pattern.

A pattern is a fixed-length sequence of per-turn predicates
(``Step``), matched against CONSECUTIVE turns of one conversation
within a time bound. Each pattern form has a batch twin compiled
here from the same ``Step`` arguments as its stream factory, into one
window scan over (conv_id, turn_idx): ``cep_pattern_batch`` (fixed
length, or with one optional step), ``followed_by_batch``,
``not_followed_by_batch`` and ``one_or_more_batch``. The streaming form
detects the same matches across micro-batch boundaries with
applyInPandasWithState. Every streaming
pattern form (fixed-length, optional, followed-by, not-followed-by,
plus/star) runs on the engine's one state driver
(operators/state.py: ``state_fn`` + ``apply_state``, shared with the
cursor dedup): a form supplies only its scan over the turns and its
timeout flush. Per conversation the state holds the cursor high-water
mark plus the form's pending turns (for a fixed-length pattern, the
last k-1 turns), so:

- a match split across micro-batches is still detected (the pending
  turns bridge the boundary);
- each match is emitted exactly once (a k-tuple fires when its LAST
  turn arrives, and replayed turns are rejected by the cursor —
  dstream's LSN-regression rule, docs/plugins/mssql-ingester.md:84-87);
- state is O(k) per conversation — constant for a fixed pattern,
  regardless of stream length: the property that holds at 10^12 turns.

The reference's polling loop has no pattern language at all; the
nearest analog is provider-composable tasks (docs/design/design.md:
87-101) — a config-declared sequence the engine executes. Each shipped
pattern is oracle-checked against its batch lead()-window SQL.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dstream_spark.operators.event_time import epoch_s
from dstream_spark.operators.state import apply_state, state_fn

CEP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("first_turn", T.IntegerType()),
        T.StructField("tool", T.StringType()),
        T.StructField("span_s", T.LongType()),
    ]
)

PATTERN_SPAN_S = 64800  # whole sequence inside 18 h (fixture cadence is hours)


@dataclass(frozen=True)
class Step:
    """One turn-level predicate of a CEP pattern: required role (None =
    any), whether a tool call must be present, and optionally a
    CROSS-STEP constraint — the tool must equal the tool captured at
    an earlier step (``tool_equals_step``, 0-based index into the
    pattern), e.g. 'the SAME tool retried'."""

    role: str | None = None
    tool_required: bool = False
    tool_equals_step: int | None = None
    # greedy zero-or-one step (regex '?' / MATCH_RECOGNIZE B?):
    # make_optional_fn and cep_pattern_batch interpret this flag
    optional: bool = False
    # ALTERNATION (regex '(x|y)' / MATCH_RECOGNIZE pattern variables
    # sharing a position): role must be one of these. Orthogonal to
    # ``role`` (set one or the other); every pattern form gets the
    # semantics for free because they all test via matches().
    role_in: tuple[str, ...] | None = None

    def matches(self, role, tool, window_tools=None) -> bool:
        if self.role is not None and role != self.role:
            return False
        if self.role_in is not None and role not in self.role_in:
            return False
        if self.tool_required and not isinstance(tool, str):
            return False  # null arrives as None OR NaN
        if self.tool_equals_step is not None:
            # NULL-safe, matching the batch lead()-window twin's
            # `tool2 = tool` predicate: SQL equality over NULL is never
            # true, so two NULL tools must NOT count as "the same tool"
            other = None if window_tools is None else window_tools[self.tool_equals_step]
            if not (isinstance(tool, str) and isinstance(other, str) and tool == other):
                return False
        return True


# the shipped patterns (each has a batch twin + oracle)
USER_AGENT_TOOL = (
    Step(role="user"),
    Step(role="agent"),
    Step(tool_required=True),
)  # "agent acted on a user request with a tool"
USER_OPT_AGENT_TOOL = (
    Step(role="user"),
    Step(role="agent", optional=True),
    Step(tool_required=True),
)  # "user -> (agent)? -> tool call": greedy zero-or-one middle step
TOOL_AGENT_TOOL = (
    Step(role="tool", tool_required=True),
    Step(role="agent"),
    Step(role="tool", tool_required=True),
)  # "tool error -> agent intervention -> tool retry"
TOOL_RETRY_SAME = (
    Step(role="tool", tool_required=True),
    Step(role="agent"),
    Step(role="tool", tool_required=True, tool_equals_step=0),
)  # "... and the retry is the SAME tool" (cross-step constraint)
USER_ALT_TOOL = (
    Step(role="user"),
    Step(role_in=("agent", "tool")),
    Step(tool_required=True),
)  # "user -> (agent reply | tool turn) -> tool call": ALTERNATION step
# the Step arguments of the followed-by and Kleene twin pairs
USER_THEN_TOOL = (
    Step(role="user"),
    Step(role="tool", tool_required=True),
)  # (a, b): "a user turn (not) followed by a tool invocation"
USER_AGENTS_TOOL = (
    Step(role="user"),
    Step(role="agent"),
    Step(tool_required=True),
)  # (a, b, c): "user -> a run of agent turns -> a tool call"
FOLLOWED_BY_N_TURNS = 6  # 'A followed by B' search window (turns)


def _window_hit(conv_id, window, pattern, span_s):
    """The CEP_OUT_SCHEMA row for ``window`` (consecutive turns, one
    per step) if every step matches and first→last <= span_s."""
    tools = [w[1] for w in window]
    span = window[-1][2] - window[0][2]
    if span <= span_s and all(
        s.matches(w[0], w[1], tools) for s, w in zip(pattern, window)
    ):
        return (conv_id, window[0][3], window[-1][1], span)
    return None


# Step checks shared by each stream factory and its batch twin
def _check_fixed(pattern: tuple[Step, ...]) -> None:
    if len(pattern) < 2:
        raise ValueError("a CEP pattern needs at least 2 steps")


def _optional_at(pattern: tuple[Step, ...]) -> int:
    """The index of the one ``Step.optional`` of an optional pattern."""
    opt_at = [i for i, s in enumerate(pattern) if s.optional]
    if len(opt_at) != 1:
        raise ValueError("optional patterns need exactly one Step.optional")
    if any(s.tool_equals_step is not None for s in pattern):
        # cross-step capture indexes into a fixed window; with an
        # optional step the indices shift between the two forms
        raise ValueError("optional patterns cannot use tool_equals_step")
    if len(pattern) < 3:
        raise ValueError("an optional pattern needs at least 3 steps")
    return opt_at[0]


def _check_pair(a: Step, b: Step) -> None:
    if a.tool_equals_step is not None or b.tool_equals_step is not None:
        # cross-step capture indexes into a consecutive window; the
        # followed-by forms have no such window to index
        raise ValueError("followed-by steps cannot use tool_equals_step")


def _check_kleene(a: Step, b: Step, c: Step, min_reps: int) -> None:
    if b.role is None or b.tool_required or b.tool_equals_step is not None:
        raise ValueError("the repeated step must be role-only (b.role set, "
                         "no tool constraints)")
    if a.role is None or a.role == b.role:
        raise ValueError("a.role must be set and distinct from b.role "
                         "(possessive == greedy only for disjoint A/B)")
    if c.tool_equals_step is not None:
        raise ValueError("one-or-more steps cannot use tool_equals_step")
    if min_reps not in (0, 1):
        raise ValueError("min_reps must be 0 (Kleene star) or 1 (plus)")


def make_cep_fn(pattern: tuple[Step, ...], span_s: int = PATTERN_SPAN_S,
                ttl_s: int | None = None):
    """Build the applyInPandasWithState body for ``pattern``: emits
    (conv_id, first_turn, tool-of-last-step, span_s) once per match of
    len(pattern) CONSECUTIVE turns whose first→last gap <= span_s.

    ``ttl_s`` (requires EventTimeTimeout + a watermark on the stream):
    a conversation's state is EVICTED once the watermark passes its
    last pending turn + ttl_s. With ttl_s >= span_s this is exact — a
    window containing any pending turn would need its last step to
    arrive with event time beyond watermark > last_pending + span_s,
    so first→last would already exceed span_s and the pattern can
    never complete; the pending turns are dead state. Without it
    (NoTimeout), per-conversation state lives forever — the unbounded
    conv_id universe at 10^12 turns grows the state store
    monotonically (the r4 review's scale-killer)."""
    _check_fixed(pattern)
    k = len(pattern)

    def scan(conv_id, meta, turns):
        pending = meta.get("p", [])
        rows = pending + turns
        # a match fires when its LAST step arrives in THIS batch
        hits = (
            _window_hit(conv_id, rows[e - k + 1 : e + 1], pattern, span_s)
            for e in range(max(k - 1, len(pending)), len(rows))
        )
        return [h for h in hits if h], {"p": rows[-(k - 1):]}

    return state_fn(scan, CEP_OUT_SCHEMA, ttl_s)


def make_optional_fn(pattern: tuple[Step, ...], span_s: int = PATTERN_SPAN_S,
                     ttl_s: int = PATTERN_SPAN_S):
    """OPTIONAL-step pattern (regex ``A B? C`` / MATCH_RECOGNIZE's
    zero-or-one quantifier), GREEDY: for each start turn, prefer the
    LONG form (all k steps over k consecutive turns); fall back to the
    SHORT form (the k-1 non-optional steps over k-1 consecutive turns)
    only when the long window fails. Exactly one ``Step.optional``
    must be set; both forms share the span_s first→last time bound.

    Greediness makes a short match non-final until the NEXT turn is
    seen — the long window ending one turn later shares its start and
    would supersede it — so a short candidate is DEFERRED one turn:

    - the next turn arrives → emit the long match if that window
      matches, else emit the deferred short (in-data resolution);
    - no next turn ever arrives → the event-time timeout flush emits
      the deferred short once the watermark passes the conversation's
      last turn + ttl_s. ``ttl_s >= span_s`` is required for exactly
      the reason the negation body states it: any turn admitted after
      the flush is > span_s past the window start, so the long window
      it would complete is span-dead and the short decision was final
      — the flush provably equals the batch twin's null-lead
      semantics.

    State per conversation: cursor + last k-1 turns + at most ONE
    deferred candidate (each row resolves the previous row's deferral
    before creating its own) — still O(k), flush-evicted."""
    opt = _optional_at(pattern)
    k = len(pattern)
    if ttl_s < span_s:
        raise ValueError(
            "ttl_s must be >= span_s: the flush finalizes a deferred "
            "short match only once no in-span upgrade turn can arrive"
        )
    short = pattern[:opt] + pattern[opt + 1:]

    def scan(conv_id, meta, turns):
        pending, deferred = meta.get("p", []), meta.get("d")
        rows = pending + turns
        out = []
        for e in range(len(pending), len(rows)):
            # 1. the long window ending at e (start e-k+1 — the SAME
            #    start as any deferral set at row e-1)
            long_hit = None
            if e >= k - 1:
                long_hit = _window_hit(conv_id, rows[e - k + 1 : e + 1], pattern, span_s)
            # 2. greedy resolution: long supersedes the deferred short
            if deferred is not None:
                out.append(long_hit or (conv_id, *deferred))
                deferred = None
            elif long_hit:
                out.append(long_hit)
            # 3. new short candidate ending at e — deferred one turn
            if e >= k - 2:
                short_hit = _window_hit(conv_id, rows[e - k + 2 : e + 1], short, span_s)
                if short_hit:
                    deferred = list(short_hit[1:])
        return out, {"p": rows[-(k - 1):], "d": deferred}

    def flush(conv_id, meta):
        # watermark > last turn + ttl_s: the deferred short (if any) is
        # final — no admissible turn can upgrade it — and the pending
        # window is span-dead. Emit, then evict.
        d = meta.get("d")
        return [(conv_id, *d)] if d else []

    return state_fn(scan, CEP_OUT_SCHEMA, ttl_s, flush)


def cep_optional_stream(
    df: DataFrame,
    pattern: tuple[Step, ...],
    span_s: int = PATTERN_SPAN_S,
    ttl_s: int | None = None,
    wm_delay_s: int = 1800,
) -> DataFrame:
    """Streaming greedy optional-step pattern (see make_optional_fn).
    Like the negation operator — and unlike the all-required patterns
    — the timeout is NOT optional: a deferred short match at a
    conversation's tail is only decidable once the watermark closes
    the book, so ttl_s defaults to span_s (its minimum) and the
    operator always runs under EventTimeTimeout. Feed contract:
    time-ordered delivery (split_by_time), so replays land below the
    watermark and are absorbed by the late filter."""
    if ttl_s is None:
        ttl_s = span_s
    return apply_state(df, make_optional_fn(pattern, span_s, ttl_s), CEP_OUT_SCHEMA,
                       ttl_s, wm_delay_s)


def make_followed_by_fn(a: Step, b: Step, n_turns: int,
                        span_s: int = PATTERN_SPAN_S,
                        ttl_s: int | None = None):
    """NON-CONSECUTIVE pattern: 'A followed by B within n_turns turns'
    with skip-till-next-match semantics (Flink CEP / MATCH_RECOGNIZE's
    relaxed contiguity): each A-turn matches the FIRST later B-turn
    whose turn distance is <= n_turns and time gap <= span_s,
    skipping any non-B turns between them. One match per A-turn.

    State per conversation: the cursor plus the UNMATCHED A-turns of
    the last n_turns turns — O(n_turns), constant for a fixed window,
    because an A older than n_turns behind the newest turn can never
    match (the next B is farther than n_turns away) and is pruned.
    Emits (conv_id, first_turn = the A-turn, tool = the B-turn's tool,
    span_s = B.ts - A.ts). ``ttl_s`` as in make_cep_fn: with the
    span_s time bound, state older than last_turn + span_s is dead and
    EventTimeTimeout-evictable."""
    _check_pair(a, b)

    def scan(conv_id, meta, turns):
        pending_a = meta.get("p", [])  # [turn_idx, epoch_s]
        out = []
        for role, tool, t_s, idx in turns:
            if b.matches(role, tool):
                keep = []
                for a_idx, a_t in pending_a:  # first B for each pending A
                    if idx - a_idx <= n_turns and t_s - a_t <= span_s:
                        out.append((conv_id, a_idx, tool, t_s - a_t))
                    else:
                        keep.append([a_idx, a_t])
                pending_a = keep
            if a.matches(role, tool):
                pending_a.append([idx, t_s])
            # prune: an A more than n_turns behind can never match
            pending_a = [p for p in pending_a if idx - p[0] < n_turns]
        return out, {"p": pending_a}

    return state_fn(scan, CEP_OUT_SCHEMA, ttl_s)


def followed_by_stream(
    df: DataFrame,
    a: Step,
    b: Step,
    n_turns: int,
    span_s: int = PATTERN_SPAN_S,
    ttl_s: int | None = None,
    wm_delay_s: int = 1800,
) -> DataFrame:
    """Streaming skip-till-next-match 'A followed by B within N turns'
    (see make_followed_by_fn); same exactly-once/cross-batch contract
    as cep_pattern_stream, same optional TTL eviction."""
    return apply_state(df, make_followed_by_fn(a, b, n_turns, span_s, ttl_s),
                       CEP_OUT_SCHEMA, ttl_s, wm_delay_s)


NOT_FOLLOWED_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("first_turn", T.IntegerType()),
    ]
)


ONE_OR_MORE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("first_turn", T.IntegerType()),
        T.StructField("n_reps", T.IntegerType()),
        T.StructField("tool", T.StringType()),
        T.StructField("span_s", T.LongType()),
    ]
)


def make_one_or_more_fn(a: Step, b: Step, c: Step,
                        span_s: int = PATTERN_SPAN_S,
                        ttl_s: int | None = None,
                        min_reps: int = 1):
    """KLEENE-PLUS pattern (regex ``A B+ C`` / MATCH_RECOGNIZE's
    one-or-more quantifier), POSSESSIVE: an A-turn opens a candidate,
    every consecutive B-matching turn extends its run (B consumes
    first — no backtracking), and the FIRST non-B turn closes the run:
    it either completes the match (it satisfies C, the run is
    non-empty, and first→last is within span_s) or kills the
    candidate. The run is UNBOUNDED — no max-repeat cap — yet state is
    O(1) per conversation: the candidate (start turn, start time, run
    length) plus the cursor.

    ``min_reps=0`` turns the plus into KLEENE-STAR (``A B* C``, the
    zero-or-more quantifier): the ONLY semantic change is that an
    empty run may complete — an A-turn directly followed by a C-turn
    matches with n_reps = 0. The state machine, the possessive
    consumption rule, and the batch lag-over-non-B-turns twin are
    otherwise identical (the twin's run-length predicate relaxes from
    ``>= 1`` to ``>= 0``).

    Possessive == declarative-greedy only when no turn can match both
    A and B (otherwise an A inside another candidate's run would need
    a second candidate slot), and the batch lag-over-non-B-turns twin
    relies on "non-B" being a pure role complement — so the factory
    REQUIRES a.role and b.role set and distinct, and b role-only.

    Unlike the optional/negation forms, emission never depends on a
    timeout: a match completes on the arrival of its C-turn, and a
    candidate at the stream's tail (run never closed) matches the
    batch twin's behavior — no C row, no match. ``ttl_s`` is therefore
    pure state HYGIENE (EventTimeTimeout eviction of idle
    conversations, exact for ttl_s >= span_s: any later admissible
    C-turn would exceed span_s anyway); the flush emits nothing."""
    _check_kleene(a, b, c, min_reps)
    if ttl_s is not None and ttl_s < span_s:
        raise ValueError("ttl_s must be >= span_s: eviction is exact only "
                         "once no in-span C-turn can arrive")

    def scan(conv_id, meta, turns):
        cand = meta.get("a")  # [a_idx, a_ts, run_len]
        out = []
        for role, tool, t_s, idx in turns:
            if cand is not None and b.matches(role, tool):
                cand[2] += 1  # possessive: B consumes first
                continue
            if (
                cand is not None
                and cand[2] >= min_reps
                and c.matches(role, tool)
                and t_s - cand[1] <= span_s
            ):
                out.append((conv_id, cand[0], cand[2], tool, t_s - cand[1]))
            # the run closed (matched or not) — candidate is spent
            cand = [idx, t_s, 0] if a.matches(role, tool) else None
        return out, {"a": cand}

    return state_fn(scan, ONE_OR_MORE_OUT_SCHEMA, ttl_s)


def one_or_more_stream(
    df: DataFrame,
    a: Step,
    b: Step,
    c: Step,
    span_s: int = PATTERN_SPAN_S,
    ttl_s: int | None = None,
    wm_delay_s: int = 1800,
    min_reps: int = 1,
) -> DataFrame:
    """Streaming possessive 'A B+ C' (see make_one_or_more_fn); same
    exactly-once/cross-batch contract as cep_pattern_stream. Without
    ttl_s the operator needs no watermark at all (emission is purely
    in-data); with it, idle conversations are EventTimeTimeout-evicted
    exactly like the other pattern forms. ``min_reps=0`` is the
    Kleene-star form ``A B* C``: an A-turn directly followed by an
    in-span C-turn matches with n_reps = 0."""
    return apply_state(df, make_one_or_more_fn(a, b, c, span_s, ttl_s, min_reps),
                       ONE_OR_MORE_OUT_SCHEMA, ttl_s, wm_delay_s)


def make_not_followed_by_fn(a: Step, b: Step, n_turns: int,
                            span_s: int = PATTERN_SPAN_S,
                            ttl_s: int = PATTERN_SPAN_S):
    """NEGATION pattern (Flink CEP notFollowedBy / MATCH_RECOGNIZE
    absence): emit each A-turn with NO qualifying B-turn within
    ``n_turns`` turns and ``span_s`` seconds.

    Absence over an append stream is only decidable once no qualifying
    B can still arrive, so a pending A is emitted when either

    - a later turn of the same conversation crosses a bound (turn
      distance >= n_turns, or time gap > span_s) — event time is
      non-decreasing in turn order (the changefeed's CDC order), so
      every later turn is at least as far on both axes; or
    - the event-time timeout fires: the watermark passed the
      conversation's last turn + ttl_s >= span_s, so nothing the late
      filter would still admit can match any pending A.

    ``ttl_s >= span_s`` is required for exactly that reason. The
    streaming oracle encodes the same two confirmation clauses — the
    treatment the LEFT OUTER stream-stream join's null emission got.
    State per conversation: cursor + unmatched pending A-turns,
    self-pruning via confirmation — O(n_turns), and removed entirely
    at the timeout flush.
    """
    _check_pair(a, b)
    if ttl_s < span_s:
        raise ValueError(
            "ttl_s must be >= span_s: a pending A is only confirmable "
            "absent once no in-span B can arrive"
        )

    def scan(conv_id, meta, turns):
        pending = meta.get("p", [])  # [turn_idx, epoch_s]
        out = []
        for role, tool, t_s, idx in turns:
            # a B at exactly the turn bound still matches (<=), so
            # match BEFORE confirming on the strict complement (>=)
            if b.matches(role, tool):
                pending = [
                    p for p in pending
                    if not (idx - p[0] <= n_turns and t_s - p[1] <= span_s)
                ]
            open_a = []
            for p in pending:
                if idx - p[0] >= n_turns or t_s - p[1] > span_s:
                    out.append((conv_id, p[0]))  # confirmed absent
                else:
                    open_a.append(p)
            pending = open_a
            if a.matches(role, tool):
                pending.append([idx, t_s])
        return out, {"p": pending}

    def flush(conv_id, meta):
        # watermark > last_turn + ttl_s >= every pending A + span_s:
        # all pending A-turns are confirmed not-followed — flush them
        # and drop the state (O(active convs) store)
        return [(conv_id, idx) for idx, _ in meta["p"]]

    return state_fn(scan, NOT_FOLLOWED_OUT_SCHEMA, ttl_s, flush)


def not_followed_by_stream(
    df: DataFrame,
    a: Step,
    b: Step,
    n_turns: int,
    span_s: int = PATTERN_SPAN_S,
    ttl_s: int | None = None,
    wm_delay_s: int = 1800,
) -> DataFrame:
    """Streaming 'A NOT followed by B within N turns / span_s seconds'
    (see make_not_followed_by_fn). Unlike the positive patterns the
    timeout is not optional — absence needs the watermark to close the
    book on a conversation — so ttl_s defaults to span_s (its minimum)
    and the operator always runs under EventTimeTimeout. Feed contract:
    time-ordered (split_by_time) delivery, so the watermark late filter
    never drops a legitimate turn and replays land below it."""
    if ttl_s is None:
        ttl_s = span_s
    return apply_state(df, make_not_followed_by_fn(a, b, n_turns, span_s, ttl_s),
                       NOT_FOLLOWED_OUT_SCHEMA, ttl_s, wm_delay_s)


def cep_pattern_stream(
    df: DataFrame,
    pattern: tuple[Step, ...] = USER_AGENT_TOOL,
    span_s: int = PATTERN_SPAN_S,
    ttl_s: int | None = None,
    wm_delay_s: int = 1800,
) -> DataFrame:
    """Pattern matches over a streaming transcript feed (in turn order
    per conversation, as the changefeed delivers them); each match
    emitted exactly once, across batch boundaries.

    ``ttl_s`` bounds state: an idle conversation's pending window is
    evicted once the event-time watermark (``wm_delay_s`` behind the
    stream's max event time) passes its last pending turn + ttl_s —
    exact for ttl_s >= span_s (see make_cep_fn)."""
    return apply_state(df, make_cep_fn(pattern, span_s, ttl_s), CEP_OUT_SCHEMA,
                       ttl_s, wm_delay_s)


def _step_cond(s: Step, at, i: int = 0):
    """Step.matches as a Column for step ``i``, where ``at(c, j)`` is
    step j's value of column c: ``role`` compiles to ==, ``role_in`` to
    IN, ``tool_required`` to IS NOT NULL and ``tool_equals_step`` to SQL
    equality, which is never true over NULL. A NULL comparison leaves
    the Column NULL, which a filter reads as no match."""
    conds = [F.lit(True)]
    if s.role is not None:
        conds.append(at("role", i) == s.role)
    if s.role_in is not None:
        conds.append(at("role", i).isin(*s.role_in))
    if s.tool_required:
        conds.append(at("tool", i).isNotNull())
    if s.tool_equals_step is not None:
        conds.append(at("tool", i) == at("tool", s.tool_equals_step))
    return reduce(operator.and_, conds)


def _this_turn(c: str, i: int = 0):
    # the at() of a single-step predicate: the turn's own column
    return F.col(c)


def cep_pattern_batch(t: DataFrame, pattern: tuple[Step, ...]) -> DataFrame:
    """Batch twin of make_cep_fn, or of make_optional_fn when one step
    is ``optional``: the matches of ``pattern`` over transcript frame
    ``t``, as (conv_id, first_turn, tool-of-last-step, span_s),
    first→last within PATTERN_SPAN_S. One lead()-window scan over
    (conv_id, turn_idx): one shuffle on conv_id, no self-joins, which
    is how pattern matching stays linear at 10^12 turns. Step i reads
    lead(col, i). With an optional step both the long window (every
    step) and the short one (the optional step dropped) come from the
    same leads, and a CASE prefers the long one per start turn."""
    opt = _optional_at(pattern) if any(s.optional for s in pattern) else None
    if opt is None:
        _check_fixed(pattern)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    cols = {"role": F.col("role"), "tool": F.col("tool"), "t": epoch_s()}
    leads = {}

    def at(c: str, i: int):
        # step i's value of column c, selected once as _{c}{i}
        leads[f"_{c}{i}"] = cols[c] if i == 0 else F.lead(cols[c], i).over(w)
        return F.col(f"_{c}{i}")

    def match(steps):
        n = len(steps) - 1
        span = at("t", n) - at("t", 0)
        conds = [_step_cond(s, at, i) for i, s in enumerate(steps)]
        return reduce(operator.and_, conds, span <= PATTERN_SPAN_S), at("tool", n), span

    hit, tool, span = match(pattern)
    if opt is not None:  # greedy: the short window stands only where the long fails
        short_hit, short_tool, short_span = match(pattern[:opt] + pattern[opt + 1:])
        tool = F.when(hit, tool).otherwise(short_tool)
        span = F.when(hit, span).otherwise(short_span)
        hit = hit | short_hit
    seq = t.select("conv_id", "turn_idx", *(c.alias(n) for n, c in leads.items()))
    return seq.filter(hit).select(
        "conv_id", F.col("turn_idx").alias("first_turn"), tool.alias("tool"),
        span.alias("span_s"),
    )


def _first_b(t: DataFrame, a: Step, b: Step, n_turns: int) -> DataFrame:
    """The A-turns of ``t`` (conv_id, turn_idx, t0) with ``hit``, the
    first later B-turn within ``n_turns`` turns and PATTERN_SPAN_S
    (NULL when none): the next n_turns turns arrive as lead() structs
    in one array, ``filter`` keeps the qualifying ones and
    try_element_at takes the first (plain element_at raises on the
    empty array under ANSI mode). One shuffle on conv_id, no
    self-join."""
    _check_pair(a, b)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    fields = {"role": F.col("role"), "tool": F.col("tool"), "t": epoch_s(),
              "turn_idx": F.col("turn_idx")}
    nxt = F.array(*[
        F.struct(*(F.lead(c, k).over(w).alias(n) for n, c in fields.items()))
        for k in range(1, n_turns + 1)
    ])

    def qualifies(s):
        # the bound is TURN-INDEX distance, as in the stream body and
        # the oracle, not the lead() row offset
        return (
            _step_cond(b, lambda c, i: s.getField(c))
            & (s.getField("t") - F.col("t0") <= PATTERN_SPAN_S)
            & (s.getField("turn_idx") - F.col("turn_idx") <= n_turns)
        )

    seq = t.select("conv_id", "turn_idx", epoch_s().alias("t0"), nxt.alias("nxt"),
                   _step_cond(a, _this_turn).alias("_a")).filter("_a")
    return seq.withColumn("hit", F.try_element_at(F.filter("nxt", qualifies), F.lit(1)))


def followed_by_batch(t: DataFrame, a: Step, b: Step, n_turns: int) -> DataFrame:
    """Batch twin of make_followed_by_fn: each A-turn with its first
    B-turn within n_turns turns and PATTERN_SPAN_S, as
    (conv_id, first_turn, tool of the B-turn, span_s)."""
    hits = _first_b(t, a, b, n_turns).filter(F.col("hit").isNotNull())
    return hits.select(
        "conv_id", F.col("turn_idx").alias("first_turn"), F.col("hit.tool").alias("tool"),
        (F.col("hit.t") - F.col("t0")).alias("span_s"),
    )


def not_followed_by_batch(t: DataFrame, a: Step, b: Step, n_turns: int) -> DataFrame:
    """Batch twin of make_not_followed_by_fn: each A-turn with no
    qualifying B-turn, as (conv_id, first_turn). The scan sees the
    whole conversation, so tail A-turns are included, as the stream
    form's timeout flush emits them."""
    misses = _first_b(t, a, b, n_turns).filter(F.col("hit").isNull())
    return misses.select("conv_id", F.col("turn_idx").alias("first_turn"))


def one_or_more_batch(t: DataFrame, a: Step, b: Step, c: Step,
                      min_reps: int = 1) -> DataFrame:
    """Batch twin of make_one_or_more_fn: ``A B+ C`` (``A B* C`` with
    min_reps=0) as (conv_id, first_turn, n_reps, tool, span_s). A
    running count of B-turns plus one lag() over the non-B turns:
    consecutive non-B turns bracket each B-run, so (previous non-B
    turn, this turn) and the count delta are the candidate. No
    self-join and no repeat cap, for runs of any length. Non-B is
    ``NOT coalesce(B, false)``: Step.matches reads a NULL role as
    non-B, so such a turn closes the run."""
    _check_kleene(a, b, c, min_reps)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    is_b = F.coalesce(_step_cond(b, _this_turn), F.lit(False))
    cum = t.select(
        "conv_id", "turn_idx", "tool", epoch_s().alias("t0"), (~is_b).alias("non_b"),
        _step_cond(a, _this_turn).alias("is_a"), _step_cond(c, _this_turn).alias("is_c"),
        F.sum(is_b.cast("int")).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cb"),
    )
    seq = cum.filter("non_b").select(
        "conv_id", "tool", "t0", "cb", "is_c",
        *(F.lag(x).over(w).alias(f"u_{x}") for x in ("is_a", "turn_idx", "t0", "cb")),
    )
    reps = F.col("cb") - F.col("u_cb")
    span = F.col("t0") - F.col("u_t0")
    return seq.filter(
        F.col("u_is_a") & F.col("is_c") & (reps >= min_reps) & (span <= PATTERN_SPAN_S)
    ).select(
        "conv_id", F.col("u_turn_idx").alias("first_turn"),
        reps.cast("int").alias("n_reps"), "tool", span.alias("span_s"),
    )
