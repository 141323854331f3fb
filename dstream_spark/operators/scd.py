"""SCD Type-2 dimension BUILD from a change stream.

tool_temporal_enrich (queries_ext.py) consumes a versioned dimension;
this module is the missing producer: fold an ordered CDC feed into
(key, valid_from, valid_to, is_current) history rows — the standard
warehouse pattern downstream of exactly the change capture the
reference ships (per-table ordered delivery,
docs/capability-inventory.md:132-136; the reference itself stops at
the queue and leaves dimension folding to the warehouse,
docs/design/design.md:87-101).

Two forms, one oracle:

- ``scd2_build``: the batch twin — one lead() window per key over the
  change order (ts, conv_id, turn_idx). One shuffle on the dimension
  key; tie-safe ordering so the result is deterministic under any
  partitioning.

- ``scd2_fn`` (via applyInPandasWithState): the incremental form.
  State per dimension key = the OPEN version (its identifying event +
  valid_from). Each micro-batch: drop rows at-or-below the key's
  cursor (the crash-replay filter — a feed-level replayed batch
  arrives with a fresh batch id, so the sink's commit-marker skip
  cannot absorb it; the cursor can, same contract as
  cursor_dedup_stream), then emit the previous open version CLOSED
  (valid_to = first new change's ts) plus the new versions, the last
  one open. The retroactive close is an UPSERT of an earlier row —
  the merge-on-read sink resolves it because the closing emission
  carries a later epoch version for the same (tool, conv_id,
  turn_idx) key. It keeps its own body, not the per-conversation
  driver of operators/state.py: it is keyed by tool, not conv_id, and
  its cursor is the composite (ts_ns, conv_id, turn_idx).

State is O(dimension keys) — NOT evicted by design, unlike the CEP /
cursor TTL operators: a dimension key's open version stays
upsert-able forever (there is no watermark after which a key can no
longer change). Dimension cardinality, not event count, bounds the
state store; at 10^12 turns the key universe (tools, tenants,
schemas) is the small side by construction.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SCD2_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("tool", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("valid_from", T.TimestampNTZType()),
        T.StructField("valid_to", T.TimestampNTZType()),
        T.StructField("attr", T.StringType()),
        T.StructField("is_current", T.BooleanType()),
    ]
)

# the open version: its change order key (ts ns, conv_id, turn_idx)
# doubles as the replay cursor, plus the attribute payload needed to
# re-emit the row closed
_SCD2_STATE_SCHEMA = T.StructType(
    [
        T.StructField("open_ts_ns", T.LongType()),
        T.StructField("open_conv_id", T.StringType()),
        T.StructField("open_turn_idx", T.IntegerType()),
        T.StructField("open_attr", T.StringType()),
    ]
)


def changes_of(transcripts: DataFrame) -> DataFrame:
    """The change feed a dimension build consumes: every tool
    invocation is a new version of that tool's record; the version
    attribute is derived from the event row (md5 prefix of the text —
    DuckDB computes the identical value, so the oracle is exact)."""
    return transcripts.filter(F.col("tool").isNotNull()).select(
        "tool",
        "conv_id",
        "turn_idx",
        F.col("ts").alias("valid_from"),
        F.substring(F.md5("text"), 1, 8).alias("attr"),
    )


def scd2_build(transcripts: DataFrame) -> DataFrame:
    """Batch twin: valid_to = the NEXT change's ts per key, tie-broken
    on (conv_id, turn_idx) so the history is total-ordered and
    deterministic."""
    ch = changes_of(transcripts)
    w = Window.partitionBy("tool").orderBy("valid_from", "conv_id", "turn_idx")
    return ch.select(
        "tool",
        "conv_id",
        "turn_idx",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        "attr",
    ).withColumn("is_current", F.col("valid_to").isNull())


def _order_cols(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["_ts_ns", "conv_id", "turn_idx"], ignore_index=True)


def scd2_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one micro-batch of one dimension key into history rows."""
    (tool,) = key
    if state.exists:
        open_ts, open_conv, open_turn, open_attr = state.get
    else:
        open_ts, open_conv, open_turn, open_attr = None, None, None, None
    batch = pd.concat(list(pdfs), ignore_index=True)
    # ns ordinal computed HERE from the arrow-delivered timestamps.
    # The explicit datetime64[ns] normalization ENFORCES the unit
    # (r5 advice): if a pandas/Arrow config ever delivered
    # datetime64[us], a bare astype('int64') would yield microsecond
    # ordinals silently reinterpreted as ns downstream — 1000x-wrong
    # valid_from/valid_to. (TimestampNTZ has no numeric cast JVM-side,
    # and a seconds cast would drop sub-second precision.)
    batch["_ts_ns"] = batch["valid_from"].astype("datetime64[ns]").astype("int64")
    # the replay filter: drop changes at-or-below the cursor (the open
    # version is the newest change ever seen for this key)
    if open_ts is not None:
        cur = (open_ts, open_conv, open_turn)
        keys = list(
            zip(batch["_ts_ns"].astype("int64"), batch["conv_id"], batch["turn_idx"])
        )
        batch = batch[[k > cur for k in keys]]
    if not len(batch):
        return
    batch = _order_cols(batch)
    ts_ns = batch["_ts_ns"].astype("int64").tolist()
    convs = batch["conv_id"].tolist()
    turns = batch["turn_idx"].tolist()
    attrs = batch["attr"].tolist()
    n = len(batch)
    # column-wise construction with pd.Timestamp/pd.NaT: an int+None
    # column in a row-wise pd.DataFrame(rows) is inferred as FLOAT64,
    # which silently corrupts ns ordinals (...765554000 -> ...553920)
    o_tool, o_conv, o_turn, o_vf, o_vt, o_attr = [], [], [], [], [], []
    if open_ts is not None:
        # retroactively CLOSE the previous open version: same sink key,
        # later epoch version — merge-on-read keeps this one
        o_tool.append(tool)
        o_conv.append(open_conv)
        o_turn.append(int(open_turn))
        o_vf.append(pd.Timestamp(int(open_ts)))
        o_vt.append(pd.Timestamp(ts_ns[0]))
        o_attr.append(open_attr)
    for i in range(n):
        o_tool.append(tool)
        o_conv.append(convs[i])
        o_turn.append(int(turns[i]))
        o_vf.append(pd.Timestamp(ts_ns[i]))
        o_vt.append(pd.Timestamp(ts_ns[i + 1]) if i + 1 < n else pd.NaT)
        o_attr.append(attrs[i])
    state.update((int(ts_ns[-1]), convs[-1], int(turns[-1]), attrs[-1]))
    yield pd.DataFrame(
        {
            "tool": o_tool,
            "conv_id": o_conv,
            "turn_idx": o_turn,
            "valid_from": pd.Series(o_vf, dtype="datetime64[ns]"),
            "valid_to": pd.Series(o_vt, dtype="datetime64[ns]"),
            "attr": o_attr,
            "is_current": [v is pd.NaT for v in o_vt],
        }
    )


def scd2_stream(changes: DataFrame) -> DataFrame:
    """The incremental SCD-2 builder over a streaming change feed
    (columns as produced by changes_of). Requires per-key arrival in
    change order ACROSS micro-batches (a time-range-split feed — the
    LSN-ordered CDC poll); within a batch any order is fine."""
    return changes.groupBy("tool").applyInPandasWithState(
        scd2_fn,
        outputStructType=SCD2_OUTPUT_SCHEMA,
        stateStructType=_SCD2_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
