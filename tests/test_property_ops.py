"""Property-based operator invariants (the reference has none —
SURVEY.md §5.4):

1. apply_changes == a sequential python fold of the change log
   (latest version wins, delete removes) for ANY interleaving of
   insert/update/delete across keys and versions.
2. simhash_near_dups (pigeonhole banding) == brute force for random
   hash sets at random hamming thresholds.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# --- 1. change-feed fold ------------------------------------------------

_changes = st.lists(
    st.tuples(
        st.integers(0, 2),  # conv
        st.integers(0, 3),  # turn
        st.integers(1, 5),  # version
        st.sampled_from(["insert", "update", "delete"]),
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(changes=_changes)
def test_apply_changes_matches_sequential_fold(spark, changes):
    from dstream_spark.operators.cdc import apply_changes

    # a CDC log has one change per (key, version): dedup the generated
    # list (last wins) so the version tiebreak never has to choose
    # between two different ops at the same version
    log: dict[tuple, str] = {}
    for c, t, v, op in changes:
        log[(f"c{c}", t, v)] = op
    rows = [(c, t, v, op) for (c, t, v), op in log.items()]

    model: dict[tuple, tuple] = {}
    for c, t, v, op in rows:
        key = (c, t)
        if key not in model or v > model[key][0]:
            model[key] = (v, op)
    expected = {
        (k[0], k[1], f"p{v}") for k, (v, op) in model.items() if op != "delete"
    }

    df = spark.createDataFrame(
        [(c, t, f"p{v}", v, op) for c, t, v, op in rows],
        "conv_id string, turn_idx int, payload string, _commit_version long, _change_type string",
    )
    got = {
        (r.conv_id, r.turn_idx, r.payload)
        for r in apply_changes(df).select("conv_id", "turn_idx", "payload").collect()
    }
    assert got == expected


# --- 2. banding equivalence ----------------------------------------------


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    hashes=st.lists(st.integers(0, 2**32 - 1), min_size=2, max_size=25, unique=True),
    max_hamming=st.integers(1, 12),
)
def test_banded_near_dups_equal_brute_force_any_threshold(spark, hashes, max_hamming):
    from pyspark.sql import functions as F

    from dstream_spark.functions.dedup_text import hamming_distance, simhash_near_dups

    sig = spark.createDataFrame(
        [(i, int(h)) for i, h in enumerate(hashes)], "doc_id long, simhash long"
    )
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dups(sig, bits=32, max_hamming=max_hamming).collect()
    }
    l, r_ = sig.alias("l"), sig.alias("r")
    brute = {
        (row.id_a, row.id_b, row.hamming)
        for row in (
            l.join(r_, F.col("l.doc_id") < F.col("r.doc_id"))
            .select(
                F.col("l.doc_id").alias("id_a"),
                F.col("r.doc_id").alias("id_b"),
                hamming_distance(F.col("l.simhash"), F.col("r.simhash")).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        ).collect()
    }
    assert banded == brute


# --- 3. streaming CEP == batch window scan, any pattern/split ----------

_roles = st.sampled_from(["user", "agent", "tool"])
_tools = st.sampled_from([None, "tool_1", "tool_2"])
_turns = st.lists(st.tuples(_roles, _tools, st.integers(0, 5)), min_size=2, max_size=24)
_steps = st.lists(
    st.tuples(
        st.sampled_from(
            [None, "user", "agent", "tool",
             # ALTERNATION steps (Step.role_in) ride the same machinery
             ("user", "agent"), ("agent", "tool"), ("user", "tool")]
        ),
        st.booleans(),
    ),
    min_size=2,
    max_size=4,
)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(turns=_turns, steps=_steps, cuts=st.lists(st.integers(1, 23), max_size=4),
       same_tool_last=st.booleans(), replay=st.booleans())
def test_streaming_cep_equals_batch_scan_any_pattern_and_split(
    turns, steps, cuts, same_tool_last, replay
):
    """For ANY pattern (random Step predicates, optional cross-step
    same-tool constraint), ANY micro-batch split of the turn sequence,
    and an optional crash-replay of the first batch, the streaming
    state function emits exactly the matches a batch scan over the
    full sequence finds — each exactly once."""
    import pandas as pd

    from dstream_spark.operators.cep import Step, make_cep_fn

    from tests.test_cep import FakeState, _batch

    def _step(r, tr, **kw):
        if isinstance(r, tuple):
            return Step(role_in=r, tool_required=tr, **kw)
        return Step(role=r, tool_required=tr, **kw)

    pattern = tuple(_step(r, tr) for r, tr in steps)
    if same_tool_last and any(tr for _, tr in steps[:-1]):
        anchor = next(i for i, (_, tr) in enumerate(steps[:-1]) if tr)
        pattern = pattern[:-1] + (
            _step(steps[-1][0], True, tool_equals_step=anchor),
        )
    span_s = 120
    k = len(pattern)

    # the full per-conversation sequence: turn_idx 0..n-1, ts = cumsum gaps
    rows, t = [], 0
    for i, (role, tool, gap_min) in enumerate(turns):
        t += gap_min * 60
        rows.append(("c1", i, role, tool, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=t)))

    # batch reference: every k-consecutive window
    expected = set()
    for e in range(k - 1, len(rows)):
        win = rows[e - k + 1 : e + 1]
        tools_in_win = [w[3] for w in win]
        ts_s = [int(w[4].timestamp()) for w in win]
        if (
            all(s.matches(w[2], w[3], tools_in_win) for s, w in zip(pattern, win))
            and ts_s[-1] - ts_s[0] <= span_s
        ):
            expected.add((win[0][1], tools_in_win[-1], ts_s[-1] - ts_s[0]))

    # streaming: split at the (sorted, deduped, in-range) cut points
    bounds = sorted({c for c in cuts if c < len(rows)})
    chunks, start = [], 0
    for b in bounds + [len(rows)]:
        if b > start:
            chunks.append(rows[start:b])
            start = b
    if replay:
        chunks.append(chunks[0])  # crash-replay of batch 0

    fn = make_cep_fn(pattern, span_s)
    st_ = FakeState()
    got = set()
    for chunk in chunks:
        for out in fn(("c1",), iter([_batch(chunk)]), st_) or ():
            got.update(
                (int(r.first_turn), r.tool, int(r.span_s)) for r in out.itertuples()
            )
    assert got == expected


# --- 4. streaming followed-by (skip-till-next-match) == batch scan ------


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    turns=_turns,
    a_role=st.sampled_from([None, "user", "agent"]),
    b_spec=st.tuples(st.sampled_from([None, "tool", "agent"]), st.booleans()),
    n_turns=st.integers(1, 5),
    span_s=st.sampled_from([120, 10_000]),
    cuts=st.lists(st.integers(1, 23), max_size=4),
    replay=st.booleans(),
)
def test_streaming_followed_by_equals_batch_scan(
    turns, a_role, b_spec, n_turns, span_s, cuts, replay
):
    """For ANY A/B predicates, window size, time bound, micro-batch
    split, and optional batch-0 replay, the streaming skip-till-next-
    match body emits exactly 'each A-turn with its FIRST B within
    n_turns turns and span_s seconds' — each match exactly once."""
    import pandas as pd

    from dstream_spark.operators.cep import Step, make_followed_by_fn

    from tests.test_cep import FakeState, _batch

    a = Step(role=a_role)
    b = Step(role=b_spec[0], tool_required=b_spec[1])

    rows, t = [], 0
    for i, (role, tool, gap_min) in enumerate(turns):
        t += gap_min * 60
        rows.append(("c1", i, role, tool, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=t)))

    # batch reference: per A-turn, the first qualifying B after it
    expected = set()
    for i, (_, idx_a, role_a, tool_a, ts_a) in enumerate(rows):
        if not a.matches(role_a, tool_a):
            continue
        for _, idx_b, role_b, tool_b, ts_b in rows[i + 1 : i + 1 + n_turns]:
            gap = int(ts_b.timestamp()) - int(ts_a.timestamp())
            if gap <= span_s and b.matches(role_b, tool_b):
                expected.add((idx_a, tool_b, gap))
                break

    bounds = sorted({c for c in cuts if c < len(rows)})
    chunks, start = [], 0
    for bd in bounds + [len(rows)]:
        if bd > start:
            chunks.append(rows[start:bd])
            start = bd
    if replay:
        chunks.append(chunks[0])

    fn = make_followed_by_fn(a, b, n_turns, span_s)
    st_ = FakeState()
    got = set()
    for chunk in chunks:
        for out in fn(("c1",), iter([_batch(chunk)]), st_) or ():
            got.update(
                (int(r.first_turn), r.tool, int(r.span_s)) for r in out.itertuples()
            )
    assert got == expected


# --- 5. streaming negation (notFollowedBy) == batch NOT EXISTS ----------


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    turns=_turns,
    a_role=st.sampled_from([None, "user", "agent"]),
    b_spec=st.tuples(st.sampled_from([None, "tool", "agent"]), st.booleans()),
    n_turns=st.integers(1, 5),
    span_s=st.sampled_from([120, 10_000]),
    cuts=st.lists(st.integers(1, 23), max_size=4),
    replay=st.booleans(),
)
def test_streaming_not_followed_by_equals_batch_not_exists(
    turns, a_role, b_spec, n_turns, span_s, cuts, replay
):
    """For ANY A/B predicates, bounds, micro-batch split, and optional
    batch-0 replay, the streaming absence body (in-data confirmations
    plus the final timeout flush) emits exactly the A-turns with NO
    qualifying B within n_turns turns and span_s seconds — each
    exactly once. The flush stands in for the watermark closing the
    stream, so the model needs no confirmability clause here."""
    import pandas as pd

    from dstream_spark.operators.cep import Step, make_not_followed_by_fn

    from tests.test_cep import FakeTtlState, _batch

    a = Step(role=a_role)
    b = Step(role=b_spec[0], tool_required=b_spec[1])

    rows, t = [], 0
    for i, (role, tool, gap_min) in enumerate(turns):
        t += gap_min * 60
        rows.append(("c1", i, role, tool, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=t)))

    expected = set()
    for i, (_, idx_a, role_a, tool_a, ts_a) in enumerate(rows):
        if not a.matches(role_a, tool_a):
            continue
        followed = any(
            b.matches(role_b, tool_b)
            and int(ts_b.timestamp()) - int(ts_a.timestamp()) <= span_s
            for _, idx_b, role_b, tool_b, ts_b in rows[i + 1 : i + 1 + n_turns]
        )
        if not followed:
            expected.add(idx_a)

    bounds = sorted({c for c in cuts if c < len(rows)})
    chunks, start = [], 0
    for bd in bounds + [len(rows)]:
        if bd > start:
            chunks.append(rows[start:bd])
            start = bd
    if replay:
        chunks.append(chunks[0])

    fn = make_not_followed_by_fn(a, b, n_turns, span_s, ttl_s=span_s)
    st_ = FakeTtlState()
    got = []
    for chunk in chunks:
        for out in fn(("c1",), iter([_batch(chunk)]), st_) or ():
            got.extend(int(r.first_turn) for r in out.itertuples())
    st_.hasTimedOut = True  # the watermark closes the stream
    for out in fn(("c1",), iter([]), st_) or ():
        got.extend(int(r.first_turn) for r in out.itertuples())
    assert len(got) == len(set(got)), f"duplicate emission: {sorted(got)}"
    assert set(got) == expected


# --- 6. streaming optional step (greedy A B? C) == batch greedy scan ----


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    turns=_turns,
    steps=st.lists(
        st.tuples(st.sampled_from([None, "user", "agent", "tool"]), st.booleans()),
        min_size=3,
        max_size=4,
    ),
    opt_at=st.integers(0, 3),
    span_s=st.sampled_from([120, 10_000]),
    cuts=st.lists(st.integers(1, 23), max_size=4),
    replay=st.booleans(),
)
def test_streaming_optional_step_equals_batch_greedy_scan(
    turns, steps, opt_at, span_s, cuts, replay
):
    """For ANY pattern with one optional step (any position), ANY
    micro-batch split, and an optional batch-0 replay, the streaming
    deferred-resolution body (in-data next-turn resolution plus the
    final timeout flush) emits exactly the batch GREEDY semantics:
    per start turn, the full-length window if it matches, else the
    window with the optional step elided — never both, each exactly
    once."""
    import pandas as pd

    from dstream_spark.operators.cep import Step, make_optional_fn

    from tests.test_cep import FakeTtlState, _batch

    opt_at = opt_at % len(steps)
    pattern = tuple(
        Step(role=r, tool_required=tr, optional=(i == opt_at))
        for i, (r, tr) in enumerate(steps)
    )
    short = tuple(s for i, s in enumerate(pattern) if i != opt_at)
    k = len(pattern)

    rows, t = [], 0
    for i, (role, tool, gap_min) in enumerate(turns):
        t += gap_min * 60
        rows.append(("c1", i, role, tool, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=t)))

    # batch greedy model: per start index, long first, else short
    expected = set()
    for i in range(len(rows)):
        win = rows[i : i + k]
        swin = rows[i : i + k - 1]
        ts_l = [int(w[4].timestamp()) for w in win]
        ts_s = [int(w[4].timestamp()) for w in swin]
        long_ok = (
            len(win) == k
            and all(s.matches(w[2], w[3]) for s, w in zip(pattern, win))
            and ts_l[-1] - ts_l[0] <= span_s
        )
        short_ok = (
            len(swin) == k - 1
            and all(s.matches(w[2], w[3]) for s, w in zip(short, swin))
            and ts_s[-1] - ts_s[0] <= span_s
        )
        if long_ok:
            expected.add((i, win[-1][3], ts_l[-1] - ts_l[0]))
        elif short_ok:
            expected.add((i, swin[-1][3], ts_s[-1] - ts_s[0]))

    bounds = sorted({c for c in cuts if c < len(rows)})
    chunks, start = [], 0
    for bd in bounds + [len(rows)]:
        if bd > start:
            chunks.append(rows[start:bd])
            start = bd
    if replay:
        chunks.append(chunks[0])

    fn = make_optional_fn(pattern, span_s, ttl_s=span_s)
    st_ = FakeTtlState()
    got = []
    for chunk in chunks:
        for out in fn(("c1",), iter([_batch(chunk)]), st_) or ():
            got.extend(
                (int(r.first_turn), r.tool, int(r.span_s)) for r in out.itertuples()
            )
    st_.hasTimedOut = True  # the watermark closes the stream
    for out in fn(("c1",), iter([]), st_) or ():
        got.extend(
            (int(r.first_turn), r.tool, int(r.span_s)) for r in out.itertuples()
        )
    assert len(got) == len(set(got)), f"duplicate emission: {sorted(got)}"
    assert set(got) == expected


# --- 7. streaming one-or-more / zero-or-more (possessive A B+/B* C)
#        == batch lag scan --------------------------------------------


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    turns=_turns,
    a_spec=st.tuples(st.sampled_from(["user", "tool"]), st.booleans()),
    c_spec=st.tuples(st.sampled_from([None, "user", "tool"]), st.booleans()),
    span_s=st.sampled_from([120, 10_000]),
    cuts=st.lists(st.integers(1, 23), max_size=4),
    replay=st.booleans(),
    min_reps=st.sampled_from([0, 1]),
)
def test_streaming_one_or_more_equals_batch_lag_scan(
    turns, a_spec, c_spec, span_s, cuts, replay, min_reps
):
    """For ANY A/C predicates (B fixed to the role-only 'agent' step
    the factory requires disjoint from A), span bound, micro-batch
    split, and optional batch-0 replay, the streaming possessive-run
    body emits exactly the batch semantics: consecutive non-B turns
    bracket each run; a pair (u, c) matches iff u satisfies A, the
    bracketed run is non-empty (plus) or any length incl. empty
    (star, min_reps=0), c satisfies C, and the span bound holds —
    each match exactly once, run length exact."""
    import pandas as pd

    from dstream_spark.operators.cep import Step, make_one_or_more_fn

    from tests.test_cep import FakeTtlState, _batch

    a = Step(role=a_spec[0], tool_required=a_spec[1])
    b = Step(role="agent")
    c = Step(role=c_spec[0], tool_required=c_spec[1])

    rows, t = [], 0
    for i, (role, tool, gap_min) in enumerate(turns):
        t += gap_min * 60
        rows.append(("c1", i, role, tool, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=t)))

    # batch model: lag over non-B turns + run-length delta
    nb = [r for r in rows if not b.matches(r[2], r[3])]
    expected = set()
    for prev, cur in zip(nb, nb[1:]):
        n_reps = cur[1] - prev[1] - 1  # turn_idx contiguous by construction
        gap = int(cur[4].timestamp()) - int(prev[4].timestamp())
        if (
            a.matches(prev[2], prev[3])
            and n_reps >= min_reps
            and c.matches(cur[2], cur[3])
            and gap <= span_s
        ):
            expected.add((prev[1], n_reps, cur[3], gap))

    bounds = sorted({ct for ct in cuts if ct < len(rows)})
    chunks, start = [], 0
    for bd in bounds + [len(rows)]:
        if bd > start:
            chunks.append(rows[start:bd])
            start = bd
    if replay:
        chunks.append(chunks[0])

    fn = make_one_or_more_fn(a, b, c, span_s, min_reps=min_reps)
    st_ = FakeTtlState()
    got = []
    for chunk in chunks:
        for out in fn(("c1",), iter([_batch(chunk)]), st_) or ():
            got.extend(
                (int(r.first_turn), int(r.n_reps), r.tool, int(r.span_s))
                for r in out.itertuples()
            )
    assert len(got) == len(set(got)), f"duplicate emission: {sorted(got)}"
    assert set(got) == expected


# --- 8. streaming SCD-2 fold == batch lead() model for any split --------


_scd_changes = st.lists(
    st.tuples(
        st.integers(0, 2),   # tool key
        st.integers(0, 2),   # conv
        st.integers(1, 90),  # gap to previous change (seconds)
    ),
    min_size=1,
    max_size=16,
)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    changes=_scd_changes,
    cuts=st.lists(st.integers(1, 15), max_size=4),
    replay=st.booleans(),
)
def test_streaming_scd2_fold_equals_batch_lead_any_split(changes, cuts, replay):
    """For ANY change sequence over several dimension keys, ANY
    micro-batch split (time-ordered, as the CDC feed guarantees), and
    an optional crash-replay of the first batch, resolving the
    streaming fold's emissions latest-version-per-key (what the
    merge-on-read sink does) gives exactly the batch lead()-window
    history: every version's valid_to is the next change's ts, the
    last stays open, and the replay changes nothing."""
    import pandas as pd

    from dstream_spark.operators.scd import scd2_fn

    from tests.test_scd2 import FakeState

    # global, strictly increasing timestamps (the time-ordered feed);
    # turn_idx = global position so (ts, conv, turn) is unique
    rows, t = [], 0
    for i, (tool, conv, gap) in enumerate(changes):
        t += gap
        rows.append(
            (f"t{tool}", f"c{conv}", i,
             pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=t), f"a{i}")
        )

    # batch model: per key in change order, valid_to = next valid_from
    expected = {}
    by_key: dict[str, list] = {}
    for tool, conv, turn, ts, attr in rows:
        by_key.setdefault(tool, []).append((conv, turn, ts, attr))
    for tool, seq in by_key.items():
        for i, (conv, turn, ts, attr) in enumerate(seq):
            vt = seq[i + 1][2] if i + 1 < len(seq) else None
            expected[(tool, conv, turn)] = (ts, vt, attr, vt is None)

    bounds = sorted({c for c in cuts if c < len(rows)})
    chunks, start = [], 0
    for b in bounds + [len(rows)]:
        if b > start:
            chunks.append(rows[start:b])
            start = b
    if replay:
        chunks.append(chunks[0])

    def _pdf(chunk_rows):
        return pd.DataFrame(
            {
                "tool": [r[0] for r in chunk_rows],
                "conv_id": [r[1] for r in chunk_rows],
                "turn_idx": [r[2] for r in chunk_rows],
                "valid_from": pd.Series([r[3] for r in chunk_rows],
                                        dtype="datetime64[ns]"),
                "attr": [r[4] for r in chunk_rows],
            }
        )

    states: dict[str, FakeState] = {}
    resolved = {}  # latest emission per sink key, in epoch order
    for chunk in chunks:
        for tool in sorted({r[0] for r in chunk}):
            sub = [r for r in chunk if r[0] == tool]
            fake = states.setdefault(tool, FakeState())
            for out in scd2_fn((tool,), iter([_pdf(sub)]), fake) or ():
                for r in out.itertuples():
                    vt = None if pd.isna(r.valid_to) else r.valid_to
                    resolved[(r.tool, r.conv_id, int(r.turn_idx))] = (
                        r.valid_from, vt, r.attr, bool(r.is_current)
                    )
    assert resolved == expected


# --- 9. streaming cursor dedup == sequential cursor fold ----------------


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    turns=st.lists(
        st.tuples(st.integers(0, 2), _roles, _tools,
                  st.one_of(st.none(), st.text("ab ", max_size=3)),
                  st.integers(0, 5)),
        min_size=1,
        max_size=24,
    ),
    cuts=st.lists(st.integers(1, 23), max_size=4),
    replays=st.lists(st.tuples(st.integers(0, 4), st.integers(0, 4)), max_size=3),
    dups=st.lists(st.integers(0, 23), max_size=3),
    ttl_s=st.sampled_from([None, 600]),
    rnd=st.randoms(use_true_random=False),
)
def test_streaming_cursor_equals_sequential_fold(turns, cuts, replays, dups, ttl_s, rnd):
    """For ANY interleaving of a few conversations, ANY micro-batch
    split, earlier batches replayed later, exact duplicate rows inside
    a batch and any row order within a batch, the cursor body emits
    what a sequential fold emits — per conversation, the turns above
    the running max, in turn order — each turn exactly once, and every
    emitted row equals its input row in all six transcript columns."""
    import pandas as pd

    from dstream_spark.fixtures.transcripts import TRANSCRIPT_SCHEMA
    from dstream_spark.operators.state import state_fn

    from tests.test_cep import FakeTtlState, _batch

    # rows as (conv_id, turn_idx, role, tool, ts, text); turn_idx counts
    # per conversation, event time is non-decreasing across the feed
    rows, n_seen, t = [], {}, 0
    for conv, role, tool, text, gap_min in turns:
        c = f"c{conv}"
        t += gap_min * 60
        rows.append((c, n_seen.get(c, 0), role, tool,
                     pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=t), text))
        n_seen[c] = n_seen.get(c, 0) + 1

    bounds = sorted({c for c in cuts if c < len(rows)})
    chunks, start = [], 0
    for b in bounds + [len(rows)]:
        chunks.append(rows[start:b])
        start = b
    feed = []
    for p, chunk in enumerate(chunks):
        batch = chunk + [chunk[d % len(chunk)] for d in dups if d < len(chunk)]
        feed.append(batch)
        feed += [chunks[q % (p + 1)] for at, q in replays if at % len(chunks) == p]

    fn = state_fn(None, TRANSCRIPT_SCHEMA, ttl_s)
    cols = TRANSCRIPT_SCHEMA.fieldNames()
    states: dict[str, FakeTtlState] = {}
    cursor: dict[str, int] = {}
    emitted = []
    for batch in feed:
        for c in sorted({r[0] for r in batch}):
            sub = [r for r in batch if r[0] == c]
            rnd.shuffle(sub)
            # the reference fold: turns above the running max, in order
            want = []
            for r in sorted(sub, key=lambda r: r[1]):
                if r[1] > cursor.get(c, -1):
                    want.append(r)
                    cursor[c] = r[1]
            pdf = _batch([r[:5] for r in sub]).assign(text=[r[5] for r in sub])
            got = []
            for out in fn((c,), iter([pdf]), states.setdefault(c, FakeTtlState())):
                assert list(out.columns) == cols
                got += [(r.conv_id, int(r.turn_idx), r.role, r.tool, r.ts, r.text)
                        for r in out.itertuples()]
            assert got == want
            emitted += got

    assert sorted(emitted, key=lambda r: r[:2]) == sorted(rows, key=lambda r: r[:2])
    if ttl_s is not None:  # re-armed at the newest turn's event time + ttl
        last_ts = {r[0]: r[4] for r in rows}
        for c, st_ in states.items():
            assert st_.timeout_ms == (int(last_ts[c].timestamp()) + ttl_s) * 1000
