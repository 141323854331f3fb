"""(conv_id, turn_idx) dual-key deduplication — the reference's D1.

The reference prevents cross- and within-transaction duplicates with an
(LSN, seqval) pair (docs/capability-inventory.md:133). Here the dual
key is (conv_id, turn_idx); the engine provides:

- batch dedup (``dedup_keys``) — used by the oracle-checked batch
  queries (MergeSink writes each epoch as delivered and resolves keys
  on read);
- streaming dedup (``dedup_stream``) — dropDuplicatesWithinWatermark,
  state bounded by the watermark (state size ∝ in-flight keys, not
  history — the property that survives a 10^12-turn stream);
- a stateful per-conversation cursor (``cursor_dedup_stream``) in
  operators/cdc.py, the scan-less form of the state driver in
  operators/state.py, reproducing dstream's checkpoint-cursor
  semantics exactly (emit only unseen turn_idx, in order).

Scale note: both paths shuffle once on the key. With string payload
columns, dropDuplicates plans a SORT aggregate (its first() buffers
are not fixed-width, so no hash aggregate), partial (map-side) before
the exchange and final after it: duplicate-heavy streams shrink before
they shuffle, at the price of a sort on each side. Neither runs a
second time in the sink: a deduped stream's epochs are unique already.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

DUAL_KEY = ("conv_id", "turn_idx")


def dedup_keys(df: DataFrame, keys: Sequence[str] = DUAL_KEY) -> DataFrame:
    """Keep exactly one row per key (any duplicate is byte-identical in
    the CDC replay scenario, so dropDuplicates is sufficient and cheaper
    than a row_number sort)."""
    return df.dropDuplicates(list(keys))


def dedup_stream(
    df: DataFrame,
    keys: Sequence[str] = DUAL_KEY,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming dedup with bounded state: a key's dedup record is
    dropped from the state store once the watermark passes it, which is
    what makes this viable on an unbounded stream."""
    from dstream_spark.operators.event_time import restore_ntz, with_event_time

    out = (
        with_event_time(df, ts_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(list(keys))
    )
    return restore_ntz(out, (ts_col,))
