"""The one state driver every per-conversation stateful operator runs
on: the cursor dedup (operators/cdc.py) and every CEP pattern form
(operators/cep.py).

Each is the reference's ingester loop — load the cursor, keep rows
with seq > cursor, emit in order, advance
(docs/plugins/mssql-ingester.md:64-73) — plus, for a CEP form, a scan
over the surviving turns. ``state_fn`` builds the
applyInPandasWithState body that owns the loop; ``apply_state`` runs
a body per conversation, with or without an event-time timeout. The
'publish-then-advance' property is supplied by Spark's epoch commit:
state updates and sink output commit atomically per batch.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

# state = one JSON document: {"c": cursor high-water mark, plus the
# form's pending state, e.g. "p": [[role, tool, epoch_s, turn_idx] ×
# (k-1) pending turns] for a fixed-length pattern}. A single string
# field keeps the schema independent of the form, so every form
# shares one state layout.
STATE_SCHEMA = T.StructType([T.StructField("js", T.StringType())])


def state_fn(scan, schema: T.StructType, ttl_s: int | None = None, flush=None):
    """The applyInPandasWithState body every stateful form shares.

    Per call it decodes the JSON state ({} when absent), drops turns
    at or below the cursor, and sorts and dedups the batch by
    turn_idx. With ``scan`` None (the cursor) the surviving rows are
    the output, in ``schema`` order. Otherwise it turns them into
    ``[role, tool-or-None, epoch_s, turn_idx]`` lists and hands them
    to ``scan(conv_id, meta, turns) -> (rows, kept)``: ``rows`` are
    output tuples in ``schema`` order, ``kept`` the form's own state
    keys, stored after the cursor. With ``ttl_s`` set the event-time
    timeout is re-armed at last turn + ttl_s. On timeout the state is
    removed and ``flush(conv_id, meta)`` (if given) returns the rows
    the form can now decide."""
    cols = schema.fieldNames()

    def fn(key, pdfs, state):
        import pandas as pd

        conv_id = key[0]
        if getattr(state, "hasTimedOut", False):
            # watermark passed last turn + ttl: no pattern can complete
            # from this state — drop it. The cursor is safe to lose
            # too: any replayed turn is older than the watermark and is
            # filtered before the operator.
            meta = json.loads(state.get[0]) if flush and state.exists else None
            state.remove()
            out = flush(conv_id, meta) if meta else []
            if out:
                yield pd.DataFrame(out, columns=cols)
            return

        meta = json.loads(state.get[0]) if state.exists else {}
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch[batch["turn_idx"] > meta.get("c", -1)]  # cursor: reject replays
        if not len(batch):
            return
        batch = batch.sort_values("turn_idx").drop_duplicates(
            subset=["turn_idx"], keep="first"
        )
        epoch_s = batch["ts"].astype("int64") // 10**9
        if scan is None:  # the cursor: the surviving rows are the output
            out, kept = [batch[cols]], {}
        else:
            turns = [
                [r, (tl if isinstance(tl, str) else None), int(t), int(i)]
                for r, tl, t, i in zip(
                    batch["role"], batch["tool"], epoch_s,
                    batch["turn_idx"].astype("int64"),
                )
            ]
            rows, kept = scan(conv_id, meta, turns)
            out = [pd.DataFrame(rows, columns=cols)] if rows else []
        last_t, last_idx = int(epoch_s.iloc[-1]), int(batch["turn_idx"].iloc[-1])
        state.update((json.dumps({"c": last_idx, **kept}),))
        if ttl_s is not None:
            # timeout must stay ahead of the current watermark
            state.setTimeoutTimestamp(
                max((last_t + ttl_s) * 1000, state.getCurrentWatermarkMs() + 1)
            )
        yield from out

    return fn


def apply_state(df: DataFrame, body, schema: T.StructType, ttl_s: int | None,
                wm_delay_s: int,
                cols=("conv_id", "turn_idx", "role", "tool", "ts")) -> DataFrame:
    """Run ``body`` per conversation over the feed's ``cols``. With
    ``ttl_s`` the state times out on event time: the watermark rides a
    derived ``_evt`` instant column so the at-rest NTZ ``ts`` is never
    session-timezone-shifted through Arrow. Without it the operator
    needs no watermark and state never times out."""
    sel = df.select(*cols)
    timeout = GroupStateTimeout.NoTimeout
    if ttl_s is not None:
        from dstream_spark.operators.event_time import to_instant

        sel = sel.withColumn("_evt", to_instant("ts")).withWatermark(
            "_evt", f"{wm_delay_s} seconds"
        )
        timeout = GroupStateTimeout.EventTimeTimeout
    return sel.groupBy("conv_id").applyInPandasWithState(
        body,
        outputStructType=schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
