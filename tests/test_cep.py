"""Unit contract for the streaming CEP state function: matches that
straddle a micro-batch boundary fire exactly once, replays are
rejected by the cursor, state stays O(k) (last k-1 turns), and the
operator is pattern-parameterized (Step predicates)."""

from __future__ import annotations

import json

import pandas as pd


class FakeState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _batch(rows):
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "tool", "ts"]
    ).astype({"ts": "datetime64[ns]"})


def _run(state, rows, fn=None):
    from dstream_spark.operators.cep import USER_AGENT_TOOL, make_cep_fn

    fn = fn or make_cep_fn(USER_AGENT_TOOL)
    out = list(fn(("c1",), iter([_batch(rows)]), state))
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame()


T0 = pd.Timestamp("2024-01-01 00:00:00")


def _t(minutes):
    return T0 + pd.Timedelta(minutes=minutes)


def test_triple_across_batch_boundary_fires_once():
    st = FakeState()
    # batch 1 ends mid-pattern: user then agent
    out1 = _run(st, [("c1", 0, "user", None, _t(0)), ("c1", 1, "agent", None, _t(1))])
    assert len(out1) == 0
    # batch 2 delivers the tool turn — the pending state bridges it
    out2 = _run(st, [("c1", 2, "tool", "search", _t(2))])
    assert len(out2) == 1
    r = out2.iloc[0]
    assert (r.conv_id, r.first_turn, r.tool, r.span_s) == ("c1", 0, "search", 120)


def test_replayed_turns_do_not_duplicate_matches():
    st = FakeState()
    rows = [
        ("c1", 0, "user", None, _t(0)),
        ("c1", 1, "agent", None, _t(1)),
        ("c1", 2, "tool", "search", _t(2)),
    ]
    assert len(_run(st, rows)) == 1
    # crash-replay of the same batch: cursor rejects every turn
    assert len(_run(st, rows)) == 0


def test_span_bound_excludes_slow_triples():
    from dstream_spark.operators.cep import PATTERN_SPAN_S

    st = FakeState()
    out = _run(
        st,
        [
            ("c1", 0, "user", None, _t(0)),
            ("c1", 1, "agent", None, _t(1)),
            ("c1", 2, "tool", "search", _t(PATTERN_SPAN_S // 60 + 1)),
        ],
    )
    assert len(out) == 0


def test_state_is_last_k_minus_1_turns_only():
    st = FakeState()
    _run(st, [("c1", i, "user", None, _t(i)) for i in range(50)])
    meta = json.loads(st.get[0])
    assert meta["c"] == 49  # cursor at the high-water mark
    assert [p[3] for p in meta["p"]] == [48, 49]  # exactly k-1 = 2 pending
    assert all(p[0] == "user" for p in meta["p"])


def test_parameterized_pattern_tool_retry():
    """The generalized operator with the SECOND shipped pattern
    (tool-error → agent → tool retry): same state machinery, different
    Step predicates; cross-batch bridging and cursor replay-rejection
    hold for it too."""
    from dstream_spark.operators.cep import TOOL_AGENT_TOOL, make_cep_fn

    fn = make_cep_fn(TOOL_AGENT_TOOL)
    st = FakeState()
    out1 = _run(
        st,
        [("c1", 0, "tool", "tool_1", _t(0)), ("c1", 1, "agent", None, _t(1))],
        fn=fn,
    )
    assert len(out1) == 0
    out2 = _run(st, [("c1", 2, "tool", "tool_1", _t(2))], fn=fn)
    assert len(out2) == 1
    r = out2.iloc[0]
    assert (r.conv_id, r.first_turn, r.tool, r.span_s) == ("c1", 0, "tool_1", 120)
    # replay rejected
    assert len(_run(st, [("c1", 2, "tool", "tool_1", _t(2))], fn=fn)) == 0
    # a user→agent→tool triple does NOT match this pattern
    st2 = FakeState()
    out3 = _run(
        st2,
        [
            ("c1", 0, "user", None, _t(0)),
            ("c1", 1, "agent", None, _t(1)),
            ("c1", 2, "tool", "search", _t(2)),
        ],
        fn=fn,
    )
    assert len(out3) == 0


def test_pattern_requires_consecutive_turns():
    """An intervening turn between the steps breaks the match (the
    window is over CONSECUTIVE turns, as in the batch lead() form)."""
    st = FakeState()
    out = _run(
        st,
        [
            ("c1", 0, "user", None, _t(0)),
            ("c1", 1, "user", None, _t(1)),  # breaks user→agent adjacency
            ("c1", 2, "agent", None, _t(2)),
            ("c1", 3, "tool", "search", _t(3)),
        ],
    )
    # user(1)→agent(2)→tool(3) still matches as a consecutive window
    assert len(out) == 1 and out.iloc[0].first_turn == 1


def test_cross_step_same_tool_constraint():
    """Step.tool_equals_step: the retry must carry the SAME tool as
    step 0 — a different tool at step 2 does not match even though the
    role/tool_required predicates pass."""
    from dstream_spark.operators.cep import TOOL_RETRY_SAME, make_cep_fn

    fn = make_cep_fn(TOOL_RETRY_SAME)
    st = FakeState()
    out = _run(
        st,
        [
            ("c1", 0, "tool", "tool_1", _t(0)),
            ("c1", 1, "agent", None, _t(1)),
            ("c1", 2, "tool", "tool_2", _t(2)),  # different tool: no match
            ("c1", 3, "agent", None, _t(3)),
            ("c1", 4, "tool", "tool_2", _t(4)),  # same as step 2: match
        ],
        fn=fn,
    )
    assert len(out) == 1
    r = out.iloc[0]
    assert (r.first_turn, r.tool) == (2, "tool_2")


class FakeTtlState(FakeState):
    """FakeState + the EventTimeTimeout surface the negation body uses."""

    def __init__(self, wm_ms=0):
        super().__init__()
        self.hasTimedOut = False
        self.timeout_ms = None
        self.removed = False
        self._wm_ms = wm_ms

    def getCurrentWatermarkMs(self):
        return self._wm_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms

    def remove(self):
        self._v, self.removed = None, True


def _nf(n_turns=3, span_s=600, ttl_s=600):
    from dstream_spark.operators.cep import Step, make_not_followed_by_fn

    return make_not_followed_by_fn(
        Step(role="user"), Step(role="tool", tool_required=True),
        n_turns=n_turns, span_s=span_s, ttl_s=ttl_s,
    )


def test_not_followed_by_confirms_on_turn_bound():
    """An unmatched A emits as soon as a later turn is >= n_turns away
    (no later B can be in-window); an A that a B matched never emits."""
    st = FakeTtlState()
    out = _run(
        st,
        [
            ("c1", 0, "user", None, _t(0)),     # matched by turn 1 -> silent
            ("c1", 1, "tool", "search", _t(1)),
            ("c1", 2, "user", None, _t(2)),     # no tool within 3 turns
            ("c1", 3, "agent", None, _t(3)),
            ("c1", 4, "agent", None, _t(4)),
            ("c1", 5, "agent", None, _t(5)),    # turn 5 - 2 >= 3: confirm A@2
        ],
        fn=_nf(),
    )
    assert list(out.itertuples(index=False, name=None)) == [("c1", 2)]
    # A@2 left pending; cursor advanced
    meta = json.loads(st.get[0])
    assert meta["c"] == 5 and meta["p"] == []


def test_not_followed_by_confirms_on_time_bound():
    """A later turn whose time gap exceeds span_s confirms the absence
    even within the turn window (event time is monotone in turn order,
    so no later turn can be back inside the span)."""
    st = FakeTtlState()
    out = _run(
        st,
        [
            ("c1", 0, "user", None, _t(0)),
            ("c1", 1, "agent", None, _t(20)),  # 1200 s > 600 s span
            ("c1", 2, "tool", "search", _t(21)),  # too late: NOT a match
        ],
        fn=_nf(),
    )
    assert list(out.itertuples(index=False, name=None)) == [("c1", 0)]


def test_not_followed_by_timeout_flushes_pending():
    """hasTimedOut: every pending A is emitted (the watermark passed
    last turn + ttl >= any pending A + span) and the state removed."""
    st = FakeTtlState()
    out = _run(st, [("c1", 0, "user", None, _t(0)), ("c1", 1, "user", None, _t(1))], fn=_nf())
    assert out.empty and st.timeout_ms == int(_t(1).timestamp() * 1000) + 600_000
    st.hasTimedOut = True
    flushed = _run(st, [], fn=_nf())
    assert list(flushed.itertuples(index=False, name=None)) == [("c1", 0), ("c1", 1)]
    assert st.removed and not st.exists


def test_not_followed_by_replay_rejected_by_cursor():
    """A replayed slice below the cursor neither re-emits nor
    resurrects pending state."""
    st = FakeTtlState()
    rows = [
        ("c1", 0, "user", None, _t(0)),
        ("c1", 1, "agent", None, _t(1)),
        ("c1", 2, "agent", None, _t(2)),
        ("c1", 3, "agent", None, _t(3)),  # confirms A@0 (n_turns=3)
    ]
    out1 = _run(st, rows, fn=_nf())
    assert list(out1.itertuples(index=False, name=None)) == [("c1", 0)]
    out2 = _run(st, rows, fn=_nf())  # full replay: all turns <= cursor
    assert out2.empty


def test_not_followed_by_requires_ttl_ge_span():
    import pytest

    with pytest.raises(ValueError, match="ttl_s must be >= span_s"):
        _nf(ttl_s=10, span_s=600)


# --- optional step (greedy A B? C) ---------------------------------------


def _opt(span_s=64800, ttl_s=None):
    from dstream_spark.operators.cep import USER_OPT_AGENT_TOOL, make_optional_fn

    return make_optional_fn(USER_OPT_AGENT_TOOL, span_s, ttl_s or span_s)


def test_optional_short_deferred_then_upgraded_across_batches():
    """user + tool-call arrive in batch 1 (a valid SHORT match), but
    the agent... no — the upgrade turn (making user→agent→tool the
    LONG match) can only share the short's START, so here: user,
    agent-with-tool in batch 1 defers a short; the tool turn in batch
    2 completes the long window and supersedes it — one LONG match,
    zero shorts."""
    st = FakeTtlState()
    out1 = _run(
        st,
        [("c1", 0, "user", None, _t(0)), ("c1", 1, "agent", "search", _t(1))],
        fn=_opt(),
    )
    assert out1.empty  # short (user, agent-with-tool) deferred, not emitted
    out2 = _run(st, [("c1", 2, "tool", "web", _t(2))], fn=_opt())
    assert list(out2.itertuples(index=False, name=None)) == [("c1", 0, "web", 120)]


def test_optional_short_emitted_when_long_fails_in_data():
    """user, tool-call, then a non-matching third turn: the long
    window fails on arrival of turn 2, so the deferred short stands."""
    st = FakeTtlState()
    out = _run(
        st,
        [
            ("c1", 0, "user", None, _t(0)),
            ("c1", 1, "tool", "search", _t(1)),
            ("c1", 2, "user", None, _t(2)),
        ],
        fn=_opt(),
    )
    assert list(out.itertuples(index=False, name=None)) == [("c1", 0, "search", 60)]


def test_optional_tail_short_emitted_at_timeout_flush_and_state_removed():
    """A short match ending at the conversation's last turn stays
    deferred until the watermark closes the conversation; the flush
    emits it once and evicts the state."""
    st = FakeTtlState()
    out = _run(
        st, [("c1", 0, "user", None, _t(0)), ("c1", 1, "tool", "search", _t(1))],
        fn=_opt(),
    )
    assert out.empty
    st.hasTimedOut = True
    flushed = _run(st, [], fn=_opt())
    assert list(flushed.itertuples(index=False, name=None)) == [("c1", 0, "search", 60)]
    assert st.removed and not st.exists
    # a second timeout (or replay) emits nothing
    st.hasTimedOut = True
    assert _run(st, [], fn=_opt()).empty


def test_optional_validation():
    import pytest

    from dstream_spark.operators.cep import Step, make_optional_fn

    with pytest.raises(ValueError, match="exactly one"):
        make_optional_fn((Step(role="user"), Step(), Step(tool_required=True)))
    with pytest.raises(ValueError, match="tool_equals_step"):
        make_optional_fn(
            (
                Step(role="tool", tool_required=True),
                Step(optional=True),
                Step(tool_required=True, tool_equals_step=0),
            )
        )
    with pytest.raises(ValueError, match="ttl_s must be >= span_s"):
        make_optional_fn(
            (Step(role="user"), Step(optional=True), Step(tool_required=True)),
            span_s=600,
            ttl_s=10,
        )


# --- one-or-more (possessive A B+ C) -------------------------------------


def _oom(span_s=64800, ttl_s=None):
    from dstream_spark.operators.cep import Step, make_one_or_more_fn

    return make_one_or_more_fn(
        Step(role="user"), Step(role="agent"), Step(tool_required=True),
        span_s, ttl_s,
    )


def test_one_or_more_unbounded_run_across_batches():
    """A 5-agent run split across two micro-batches still matches,
    with the run length counted across the boundary — O(1) state."""
    st = FakeTtlState()
    out1 = _run(
        st,
        [
            ("c1", 0, "user", None, _t(0)),
            ("c1", 1, "agent", None, _t(1)),
            ("c1", 2, "agent", None, _t(2)),
        ],
        fn=_oom(),
    )
    assert out1.empty
    out2 = _run(
        st,
        [
            ("c1", 3, "agent", None, _t(3)),
            ("c1", 4, "agent", None, _t(4)),
            ("c1", 5, "agent", None, _t(5)),
            ("c1", 6, "tool", "search", _t(6)),
        ],
        fn=_oom(),
    )
    assert list(out2.itertuples(index=False, name=None)) == [
        ("c1", 0, 5, "search", 360)
    ]


def test_one_or_more_requires_at_least_one_repeat():
    """user directly followed by a tool call (zero agent turns) does
    NOT match A B+ C."""
    st = FakeTtlState()
    out = _run(
        st,
        [("c1", 0, "user", None, _t(0)), ("c1", 1, "tool", "search", _t(1))],
        fn=_oom(),
    )
    assert out.empty


def test_one_or_more_non_matching_closer_kills_candidate():
    """The first non-agent turn closes the run; if it fails C the
    candidate dies and is NOT revived by a later tool turn."""
    st = FakeTtlState()
    out = _run(
        st,
        [
            ("c1", 0, "user", None, _t(0)),
            ("c1", 1, "agent", None, _t(1)),
            ("c1", 2, "user", None, _t(2)),       # closes run, fails C
            ("c1", 3, "tool", "search", _t(3)),   # too late for turn 0
        ],
        fn=_oom(),
    )
    # ...but turn 2 itself opened a NEW candidate, which turn 3 cannot
    # complete (zero agent turns between) — so nothing at all
    assert out.empty


def test_one_or_more_replay_and_ttl_flush_emit_nothing():
    st = FakeTtlState()
    rows = [
        ("c1", 0, "user", None, _t(0)),
        ("c1", 1, "agent", None, _t(1)),
        ("c1", 2, "tool", "search", _t(2)),
    ]
    out = _run(st, rows, fn=_oom(ttl_s=64800))
    assert len(out) == 1
    assert _run(st, rows, fn=_oom(ttl_s=64800)).empty  # cursor rejects replay
    st.hasTimedOut = True
    assert _run(st, [], fn=_oom(ttl_s=64800)).empty    # flush = eviction only
    assert st.removed and not st.exists


def test_one_or_more_validation():
    import pytest

    from dstream_spark.operators.cep import Step, make_one_or_more_fn

    with pytest.raises(ValueError, match="role-only"):
        make_one_or_more_fn(Step(role="user"), Step(tool_required=True), Step())
    with pytest.raises(ValueError, match="distinct"):
        make_one_or_more_fn(Step(role="agent"), Step(role="agent"), Step())
    with pytest.raises(ValueError, match="ttl_s must be >= span_s"):
        make_one_or_more_fn(
            Step(role="user"), Step(role="agent"), Step(), span_s=600, ttl_s=10
        )
    with pytest.raises(ValueError, match="min_reps"):
        make_one_or_more_fn(
            Step(role="user"), Step(role="agent"), Step(), min_reps=2
        )


# --- zero-or-more (possessive A B* C, Kleene star) -----------------------


def _zom(span_s=64800, ttl_s=None):
    from dstream_spark.operators.cep import Step, make_one_or_more_fn

    return make_one_or_more_fn(
        Step(role="user"), Step(role="agent"), Step(tool_required=True),
        span_s, ttl_s, min_reps=0,
    )


def test_zero_or_more_admits_empty_run():
    """user directly followed by a tool call matches A B* C with
    n_reps = 0 — the exact case the plus form rejects."""
    st = FakeTtlState()
    out = _run(
        st,
        [("c1", 0, "user", None, _t(0)), ("c1", 1, "tool", "search", _t(1))],
        fn=_zom(),
    )
    assert list(out.itertuples(index=False, name=None)) == [
        ("c1", 0, 0, "search", 60)
    ]


def test_zero_or_more_nonempty_run_equals_plus():
    """With a non-empty run, star and plus agree — same candidate
    machinery, run counted across a batch boundary."""
    st = FakeTtlState()
    out1 = _run(
        st,
        [
            ("c1", 0, "user", None, _t(0)),
            ("c1", 1, "agent", None, _t(1)),
        ],
        fn=_zom(),
    )
    assert out1.empty
    out2 = _run(
        st,
        [
            ("c1", 2, "agent", None, _t(2)),
            ("c1", 3, "tool", "search", _t(3)),
        ],
        fn=_zom(),
    )
    assert list(out2.itertuples(index=False, name=None)) == [
        ("c1", 0, 2, "search", 180)
    ]


def test_zero_or_more_closing_turn_reopens_candidate():
    """A C-turn that completes an empty run cannot itself reopen (tool
    role fails A), but a user turn that closes a run unmatched DOES
    open a fresh candidate that a later tool turn completes."""
    st = FakeTtlState()
    out = _run(
        st,
        [
            ("c1", 0, "user", None, _t(0)),
            ("c1", 1, "agent", None, _t(1)),
            ("c1", 2, "user", None, _t(2)),      # closes run 1 (fails C), reopens
            ("c1", 3, "tool", "search", _t(3)),  # completes the turn-2 candidate
        ],
        fn=_zom(),
    )
    # turn 2 closed turn 0's candidate without matching C (no tool);
    # the turn-2 candidate completes at turn 3 with an empty run
    assert list(out.itertuples(index=False, name=None)) == [
        ("c1", 2, 0, "search", 60)
    ]


def test_zero_or_more_replay_and_ttl_flush_emit_nothing():
    st = FakeTtlState()
    rows = [
        ("c1", 0, "user", None, _t(0)),
        ("c1", 1, "tool", "search", _t(1)),
    ]
    out = _run(st, rows, fn=_zom(ttl_s=64800))
    assert len(out) == 1
    assert _run(st, rows, fn=_zom(ttl_s=64800)).empty  # cursor rejects replay
    st.hasTimedOut = True
    assert _run(st, [], fn=_zom(ttl_s=64800)).empty    # flush = eviction only
    assert st.removed and not st.exists


def _stream_matches(fn, rows):
    """Every row the state fn ``fn`` emits over ``rows``, per
    conversation in two micro-batches split at turn 4 and then one
    event-time timeout: the batch scan sees whole conversations, so a
    timeout form must close each one to be comparable."""
    out = set()
    for cid in dict.fromkeys(r[0] for r in rows):
        conv_rows = [r for r in rows if r[0] == cid]
        st = FakeTtlState()
        for k, chunk in enumerate((conv_rows[:4], conv_rows[4:], [])):
            st.hasTimedOut = k == 2
            for df in fn((cid,), iter([_batch(chunk)]), st):
                out.update(
                    tuple(v.item() if hasattr(v, "item") else v for v in r)
                    for r in df.itertuples(index=False)
                )
    return out


def test_batch_compiler_agrees_with_state_fn(spark):
    """Each batch compiler finds exactly the matches its streaming
    state fn emits, for every shipped pattern form, with the stream
    twins' Step arguments: B-turns at exactly n_turns and n_turns + 1,
    spans of exactly PATTERN_SPAN_S and one second more, NULL tools, a
    NULL-vs-NULL same-tool pair, a B-run across the batch boundary, a
    NULL-role turn closing a Kleene run, tail A-turns and a tail short
    optional match (decided by the timeout flush). The DST-straddling
    conversation must give wall-clock spans under a non-UTC session
    too."""
    from functools import partial

    from pyspark.sql import types as T

    from dstream_spark.operators.cep import (
        FOLLOWED_BY_N_TURNS as N,
        PATTERN_SPAN_S as S,
        TOOL_AGENT_TOOL,
        TOOL_RETRY_SAME,
        USER_AGENT_TOOL,
        USER_AGENTS_TOOL,
        USER_ALT_TOOL,
        USER_OPT_AGENT_TOOL,
        USER_THEN_TOOL,
        cep_pattern_batch,
        followed_by_batch,
        make_cep_fn,
        make_followed_by_fn,
        make_not_followed_by_fn,
        make_one_or_more_fn,
        make_optional_fn,
        not_followed_by_batch,
        one_or_more_batch,
    )

    dst = (pd.Timestamp("2024-03-10 01:30:00") - T0).total_seconds()
    convs = {  # (role, tool, seconds after T0), in turn order
        "c1": [
            ("user", None, 0),
            ("agent", None, 100),
            ("tool", "search", S),          # user→agent→tool span == S
            ("agent", None, S + 100),
            ("tool", "search", S + 200),    # the SAME tool retried
            ("agent", None, S + 300),
            ("tool", "fetch", S + 400),     # a different tool retried
            ("user", None, 70_000),
            ("tool", None, 70_100),         # NULL tool as the alternation's middle
            ("tool", "x", 70_000 + S + 1),  # span S + 1: no match
        ],
        "c2": [
            ("tool", None, 0),
            ("agent", None, 10),
            ("tool", None, 20),             # NULL-vs-NULL "same tool"
            ("user", None, 30),
            ("tool", None, 40),
            ("tool", "grep", 50),
            ("user", None, 100),
            ("agent", None, 200),
            ("tool", "grep", 100 + S + 1),  # span S + 1: no match
        ],
        "c3": [
            ("user", None, 0),
            *(("agent", None, 10 * i) for i in range(1, 6)),  # run crosses turn 4
            ("tool", "search", 60),         # B at exactly n_turns after turn 0
            ("user", None, 70),
            *(("agent", None, 70 + 10 * i) for i in range(1, 7)),
            ("tool", "fetch", 140),         # B at n_turns + 1 after turn 7
            ("user", None, 150),            # tail A-turn
        ],
        "c4": [
            ("user", None, 0),
            ("tool", None, 10),             # NULL tool: not a B, fails C
            ("tool", "x", S),               # B at span == S
            ("user", None, S + 10),
            ("tool", "y", 2 * S + 11),      # B at span S + 1
            ("user", None, 2 * S + 20),
            ("agent", None, 2 * S + 30),
            (None, "t", 2 * S + 40),        # NULL role closes the agent run
            ("user", None, 2 * S + 50),     # tail A-turn
        ],
        "c5": [  # America/New_York springs forward at 02:00 on this day
            ("user", None, dst),
            ("agent", None, dst + 600),
            ("tool", "dst", dst + 7200),    # 01:30 → 03:30: 7200 s on the wall clock
            ("user", None, dst + 7800),
            ("tool", "z", dst + 8400),      # tail short optional match
        ],
    }
    rows = [
        (cid, i, role, tool, T0 + pd.Timedelta(seconds=sec))
        for cid, turns in convs.items()
        for i, (role, tool, sec) in enumerate(turns)
    ]
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
    ])
    t = spark.createDataFrame([(c, i, r, tl, ts.to_pydatetime()) for c, i, r, tl, ts in rows],
                              schema)

    forms = {  # name: (batch compiler over t, stream state fn)
        **{p: (partial(cep_pattern_batch, pattern=p), make_cep_fn(p))
           for p in (USER_AGENT_TOOL, TOOL_AGENT_TOOL, TOOL_RETRY_SAME, USER_ALT_TOOL)},
        "optional": (partial(cep_pattern_batch, pattern=USER_OPT_AGENT_TOOL),
                     make_optional_fn(USER_OPT_AGENT_TOOL)),
        "followed_by": (lambda df: followed_by_batch(df, *USER_THEN_TOOL, N),
                        make_followed_by_fn(*USER_THEN_TOOL, N)),
        "not_followed_by": (lambda df: not_followed_by_batch(df, *USER_THEN_TOOL, N),
                            make_not_followed_by_fn(*USER_THEN_TOOL, N)),
        "plus": (lambda df: one_or_more_batch(df, *USER_AGENTS_TOOL),
                 make_one_or_more_fn(*USER_AGENTS_TOOL)),
        "star": (lambda df: one_or_more_batch(df, *USER_AGENTS_TOOL, min_reps=0),
                 make_one_or_more_fn(*USER_AGENTS_TOOL, min_reps=0)),
    }
    stream = {name: _stream_matches(fn, rows) for name, (_, fn) in forms.items()}
    assert all(stream.values())  # every form finds something
    # the cases above are really exercised
    assert ("c1", 0, "search", S) in stream[USER_AGENT_TOOL]
    assert ("c5", 0, "dst", 7200) in stream[USER_AGENT_TOOL]
    assert ("c5", 3, "z", 600) in stream["optional"]
    assert {("c3", 0, "search", 60), ("c4", 0, "x", S)} <= stream["followed_by"]
    assert {("c3", 7), ("c3", 15), ("c4", 3), ("c4", 8)} <= stream["not_followed_by"]
    assert {("c3", 0, 5, "search", 60), ("c4", 5, 1, "t", 20)} <= stream["plus"]
    assert stream["star"] > stream["plus"]
    assert all(span <= S for name, out in stream.items() for *_, span in out
               if name != "not_followed_by")

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York"):
            # a frame binds the session time zone when it is analyzed,
            # so each compiler runs after the zone is set
            spark.conf.set("spark.sql.session.timeZone", tz)
            for name, (compile_batch, _) in forms.items():
                batch = {tuple(r) for r in compile_batch(t).collect()}
                assert batch == stream[name], (tz, name)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
