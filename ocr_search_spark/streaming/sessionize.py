"""Custom stateful streaming operator: inactivity-gap sessionization via
``applyInPandasWithState`` (SURVEY §2.6 "custom stateful operators").

Semantics (the streaming twin of a batch window-function
sessionization): events of a user belong to one session while
consecutive event times are within ``gap``; a session
closes when the watermark passes its last event + gap (event-time
timeout), emitting (user_id, session_start, session_end, n_events,
sum_value).

State per user = the one open session (start, last, n, total) — O(1)
state per key regardless of history length. Within a micro-batch,
session splitting is vectorized pandas (diff → cumsum boundaries), not
a per-event Python loop; only closed sessions are emitted (append mode).

At scale: state lives in the state store keyed by user_id (shuffled
once per micro-batch); skewed users cost memory O(1) each, so the only
skew concern is event *volume* per key per batch — which the pandas
vectorization absorbs.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .ingest import EVENTS_DDL

OUTPUT_DDL = (
    "user_id long, session_start long, session_end long, "
    "n_events long, sum_value double"
)
STATE_DDL = "start_us long, last_us long, n long, total double"

DEFAULT_GAP_SECONDS = 1800


def _close(user_id: int, s: int, l: int, n: int, tot: float) -> dict:
    return {
        "user_id": user_id,
        "session_start": s // 1_000_000,
        "session_end": l // 1_000_000,
        "n_events": n,
        "sum_value": round(tot, 4),
    }


def make_sessionize_fn(gap_seconds: int = DEFAULT_GAP_SECONDS):
    gap_us = gap_seconds * 1_000_000

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            s, l, n, tot = state.get
            state.remove()
            yield pd.DataFrame([_close(user_id, s, l, n, tot)])
            return

        batch = pd.concat(list(pdfs), ignore_index=True)
        ts = pd.to_datetime(batch["ts"])
        if getattr(ts.dt, "tz", None) is not None:
            ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
        ep_all = ts.astype("datetime64[us]").astype("int64")
        order = ep_all.sort_values(kind="stable").index
        ep = ep_all.loc[order].reset_index(drop=True)
        vals = batch["value"].loc[order].reset_index(drop=True)
        # vectorized session split: boundary where gap exceeded
        new_sess = ep.diff().gt(gap_us)
        sess_id = new_sess.cumsum()
        closed: list[dict] = []
        s = l = n = None
        tot = 0.0
        if state.exists:
            s, l, n, tot = state.get
            if len(ep) and ep.iloc[0] - l > gap_us:
                closed.append(_close(user_id, s, l, n, tot))
                s = None
        for sid, idx in sess_id.groupby(sess_id).groups.items():
            lo, hi = idx.min(), idx.max()
            seg_start, seg_last = int(ep.iloc[lo]), int(ep.iloc[hi])
            seg_n = int(hi - lo + 1)
            seg_tot = float(vals.iloc[lo : hi + 1].sum())
            if s is None:
                s, l, n, tot = seg_start, seg_last, seg_n, seg_tot
            else:
                l, n, tot = seg_last, n + seg_n, tot + seg_tot
            # close every segment except the final (still-open) one
            if sid != sess_id.iloc[-1]:
                closed.append(_close(user_id, s, l, n, tot))
                s = None
        if s is not None:
            state.update((int(s), int(l), int(n), float(tot)))
            # timeout must sit strictly ahead of the current watermark
            to_ms = max(
                l // 1000 + gap_seconds * 1000, state.getCurrentWatermarkMs() + 1
            )
            state.setTimeoutTimestamp(to_ms)
        yield pd.DataFrame(closed) if closed else pd.DataFrame(
            columns=["user_id", "session_start", "session_end", "n_events", "sum_value"]
        )

    return fn


def stream_sessionize(
    spark: SparkSession,
    events_path: str,
    out_path: str,
    checkpoint_path: str,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark: str = "30 minutes",
    await_termination: bool = True,
):
    src = spark.readStream.schema(EVENTS_DDL).parquet(events_path)
    sessions = (
        src.withWatermark("ts", watermark)
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_sessionize_fn(gap_seconds),
            outputStructType=OUTPUT_DDL,
            stateStructType=STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def batch_sessionize(events: DataFrame, gap_seconds: int = DEFAULT_GAP_SECONDS) -> DataFrame:
    """Batch twin (window functions) for equivalence tests — same output
    schema and rounding as the streaming operator."""
    from pyspark.sql import Window as W

    ep = F.unix_micros(F.col("ts"))
    w = W.partitionBy("user_id").orderBy(ep)
    gap = ep - F.lag(ep).over(w)
    sess = F.sum(
        F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), 1).otherwise(0)
    ).over(w)
    return (
        events.withColumn("sess_idx", sess)
        .groupBy("user_id", "sess_idx")
        .agg(
            F.floor(F.min(ep) / 1_000_000).cast("long").alias("session_start"),
            F.floor(F.max(ep) / 1_000_000).cast("long").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .drop("sess_idx")
    )
