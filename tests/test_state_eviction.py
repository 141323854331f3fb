"""EventTimeTimeout state eviction for the per-conversation stateful
operators, the CEP patterns and the cursor dedup, which both run on
the one applyInPandasWithState driver (operators/state.py): an idle
conversation's state must be REMOVED once the watermark passes its
last event + TTL — the bound that keeps the state store O(active
conversations) instead of growing forever over an unbounded conv_id
universe — while live conversations keep matching/deduping exactly as
before."""

from __future__ import annotations

import pandas as pd

from dstream_spark.fixtures.transcripts import write_changefeed_batches
from dstream_spark.operators.cdc import cursor_dedup_stream
from dstream_spark.operators.cep import cep_pattern_stream
from dstream_spark.sources.registry import changefeed

T0 = pd.Timestamp("2024-01-01 00:00:00")


def _rows(specs):
    return pd.DataFrame(
        [
            (c, i, role, f"text {c} {i}", tool, T0 + pd.Timedelta(minutes=m))
            for c, i, role, tool, m in specs
        ],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )


def _write_feed(spark, feed, batches):
    for b, pdf in enumerate(batches):  # one change-feed file per batch
        write_changefeed_batches(spark, pdf, feed, n_batches=1, start=b)


# conv A goes idle after batch 0; conv B keeps streaming, advancing the
# watermark (delay 60 s) far past A's last turn + TTL (600 s)
def _feed_batches():
    return [
        _rows(
            [
                ("A", 0, "user", None, 0),
                ("A", 1, "agent", None, 1),
                ("B", 0, "user", None, 0),
            ]
        ),
        _rows([("B", 1, "agent", None, 60), ("B", 2, "tool", "search", 61)]),
        _rows([("B", 3, "user", None, 120)]),
    ]


def _final_state_rows(query) -> int:
    progs = [p for p in query.recentProgress if p["stateOperators"]]
    assert progs, "no stateOperators progress recorded"
    return progs[-1]["stateOperators"][0]["numRowsTotal"]


def _run(stream_df, spark, name):
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q, spark.table(name)


def test_cep_idle_conversation_state_evicted(spark, tmp_path):
    feed = str(tmp_path / "cepfeed")
    _write_feed(spark, feed, _feed_batches())
    src = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    out = cep_pattern_stream(src, ttl_s=600, wm_delay_s=60)
    q, table = _run(out, spark, "cep_evict")

    # B's user→agent→tool triple still fires across the batch boundary
    rows = {(r.conv_id, r.first_turn, r.tool) for r in table.collect()}
    assert rows == {("B", 0, "search")}
    # A's pending window was evicted once the watermark passed its last
    # turn + TTL: only B's state remains
    assert _final_state_rows(q) == 1


def test_cursor_idle_conversation_state_evicted_replay_still_safe(spark, tmp_path):
    feed = str(tmp_path / "curfeed")
    batches = _feed_batches()
    # adversarial tail: batch 3 replays A's first turn AFTER A's cursor
    # was evicted — the row is older than the watermark, so the
    # operator's input filter (the dropDuplicatesWithinWatermark
    # contract) must absorb it, not the lost cursor
    batches.append(_rows([("A", 0, "user", None, 0), ("B", 4, "agent", None, 121)]))
    _write_feed(spark, feed, batches)
    src = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    out = cursor_dedup_stream(src, ttl_s=600, wm_delay_s=60)
    q, table = _run(out, spark, "cursor_evict")

    got = sorted((r.conv_id, r.turn_idx) for r in table.collect())
    assert got == [
        ("A", 0), ("A", 1),
        ("B", 0), ("B", 1), ("B", 2), ("B", 3), ("B", 4),
    ]  # each turn exactly once; the replayed A-0 did NOT re-emit
    assert _final_state_rows(q) == 1  # only B's cursor survives


def test_cursor_ttl_output_equals_no_ttl_twin(spark, tmp_path):
    """Eviction is a resource bound, not a semantics change: same feed
    through the TTL and NoTimeout forms yields identical rows."""
    feed = str(tmp_path / "twinfeed")
    _write_feed(spark, feed, _feed_batches())
    src = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    _, with_ttl = _run(
        cursor_dedup_stream(src, ttl_s=600, wm_delay_s=60), spark, "twin_ttl"
    )
    src2 = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    _, without = _run(cursor_dedup_stream(src2), spark, "twin_nottl")
    key = lambda r: (r.conv_id, r.turn_idx)  # noqa: E731
    assert sorted(map(key, with_ttl.collect())) == sorted(map(key, without.collect()))


def test_followed_by_idle_conversation_state_evicted(spark, tmp_path):
    """The skip-till-next-match operator's TTL: conv A's pending
    unmatched A-turns are evicted once the watermark passes them + TTL
    (the span_s bound makes them dead state); conv B keeps matching."""
    from dstream_spark.operators.cep import Step, followed_by_stream

    feed = str(tmp_path / "fbfeed")
    _write_feed(spark, feed, _feed_batches())
    src = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    out = followed_by_stream(
        src,
        a=Step(role="user"),
        b=Step(role="tool", tool_required=True),
        n_turns=4,
        span_s=600,
        ttl_s=600,
        wm_delay_s=60,
    )
    q, table = _run(out, spark, "fb_evict")
    # B's user turn 0 (t+0) finds no tool within 600 s (tool at t+61min)
    # and A never sees a tool — matches can still come from B turn 3's
    # window onward: none here, so output is empty but state bounded
    assert table.count() == 0
    assert _final_state_rows(q) == 1  # only B's state survives


def test_not_followed_by_timeout_flush_emits_absences_exactly_once(spark, tmp_path):
    """The NEGATION operator's timeout is load-bearing output, not
    just eviction: conv A's unmatched user turn must EMIT when the
    watermark (driven by conv B) passes A's last turn + ttl, the
    flushed state must be gone, and a replay of A's turns arriving
    after the flush must be absorbed by the late filter — not re-emit
    the absence through the reset cursor."""
    from dstream_spark.operators.cep import Step, not_followed_by_stream

    feed = str(tmp_path / "nffeed")
    batches = _feed_batches()
    # adversarial tail: replay A's flushed user turn after eviction
    batches.append(_rows([("A", 0, "user", None, 0)]))
    _write_feed(spark, feed, batches)
    src = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    out = not_followed_by_stream(
        src,
        a=Step(role="user"),
        b=Step(role="tool", tool_required=True),
        n_turns=4,
        span_s=600,
        ttl_s=600,
        wm_delay_s=60,
    )
    q, table = _run(out, spark, "nf_flush")
    rows = sorted((r.conv_id, r.first_turn) for r in table.collect())
    # A@0: no tool ever -> flushed at timeout, exactly once despite the
    # replay. B@0: its only tool (t+61 min) is outside the 600 s span —
    # confirmed in-data by B@1's bound-crossing gap. B@3 (t+120 min) is
    # the honest TAIL case: the final watermark (max ts − 60 s) never
    # passes it + ttl, so its absence is UNCONFIRMABLE and must NOT
    # emit — the clause the streaming oracle encodes.
    assert rows == [("A", 0), ("B", 0)]
    assert _final_state_rows(q) == 1  # A flushed; B's tail state alive
