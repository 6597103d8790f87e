"""Streamed trailing-window z-score anomalies — the 13th gated
stream==batch path, and a NEW state shape: a buffer PRUNED by the
window, not a scalar carry and not the full history.

The streaming twin of ``operators/anomaly.py::rolling_anomalies``: the
batch operator compares each event against the mean/variance of the
same key's trailing event-time window (RANGE frame).  A scalar carry
cannot replay that — old events fall OUT of the window, so the keyed
state must remember them until they expire.  The state kept per key is
exactly the live window:

    (us[], cents[])   all events with us >= max_seen - window_us

so state size is bounded by events-per-key-per-window (the operator's
own documented envelope), regardless of stream length — unlike the
multiset path (``sequences.py``, state = full history) and unlike the
carry path (``cusum.py``, O(1) state but prefix-only
semantics).  Each micro-batch is one vectorized pass: merge buffer +
new rows (both already time-ordered), two prefix-sum arrays, two
``searchsorted`` bounds per new row — never a per-row Python loop.

All flag arithmetic is the same cross-multiplied BIGINT algebra as the
batch operator ((x·n−s)² > z²(n·ss−s²), integer cents), so stream ==
batch is exact and certified in the driver gate by the SAME oracle SQL
as the batch ``anomaly`` entry.  The overflow envelope is enforced
loudly here too: numpy int64 wraps silently where Spark ANSI raises,
so the fold raises ``ValueError`` before any term can exceed 2^63.

Ordering contract: per-key event times must STRICTLY increase across
the feed (same ``write_time_chunks`` prep as the SCD2/CUSUM paths).
Strictness matters for a RANGE frame: equal-time PEERS belong to each
other's windows, and an append-mode stream cannot revise a row already
emitted when its peer arrives in a later micro-batch.  The fold
therefore rejects ties — detectable even across micro-batches, because
the pruned buffer always retains the previous max-us row — rather than
silently diverging from the batch result.  (The driver events table
has unique per-user timestamps at every sf; a real deployment with
ties would emit windows keyed on a composite strictly-ordered clock.)

The reference has no monitoring operator (terminal counters only,
``statistics.rs:17-131``); a live outlier watch over the event feed is
the natural streaming deployment of the batch flagger.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: per-key live window: event times + values still inside window_us
STATE_SCHEMA = T.StructType(
    [
        T.StructField("us", T.ArrayType(T.LongType()), True),
        T.StructField("cents", T.ArrayType(T.LongType()), True),
    ]
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("key", T.LongType(), True),
        T.StructField("us", T.LongType(), True),
        T.StructField("cents", T.LongType(), True),
        T.StructField("n_window", T.LongType(), False),
    ]
)

#: |window sum of cents| above this risks (x·n−s)² overflowing int64
#: (same envelope as the batch operator's docstring)
_SUM_CAP = 3_000_000_000


def _make_fold(window_us: int, z: int, min_n: int):
    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        b_us, b_c = state.get if state.exists else ([], [])
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["us", "event_id"], kind="stable")
        new_us = rows["us"].to_numpy(np.int64)
        new_c = rows["cents"].to_numpy(np.int64)
        us = np.concatenate([np.asarray(b_us, np.int64), new_us])
        c = np.concatenate([np.asarray(b_c, np.int64), new_c])
        if len(us) > 1 and (np.diff(us) <= 0).any():
            raise ValueError(
                "stream_anomalies: event times must strictly increase "
                f"per key (tie or regression within key {key[0]}) — "
                "RANGE-frame parity is undefined under append emission"
            )
        c_f = c.astype(np.float64)
        if len(c) and (
            np.abs(c).max() >= 2_000_000_000
            or np.cumsum(c_f * c_f)[-1] >= 2.0**62
        ):
            raise ValueError(
                "stream_anomalies: cents exceed the int64 overflow "
                "envelope — rescale the unit or shorten the window "
                "(the batch twin fails the same way under ANSI)"
            )
        p1 = np.concatenate([[0], np.cumsum(c)])
        p2 = np.concatenate([[0], np.cumsum(c * c)])
        lo = np.searchsorted(us, new_us - window_us, side="left")
        hi = np.searchsorted(us, new_us, side="right")
        n = (hi - lo).astype(np.int64)
        s = p1[hi] - p1[lo]
        ss = p2[hi] - p2[lo]
        # float probes of the two squared terms BEFORE the exact int64
        # math — numpy wraps silently where Spark ANSI raises
        d_f = np.abs(new_c.astype(np.float64) * n - s)
        v_f = n.astype(np.float64) * ss - s.astype(np.float64) * s
        if (d_f >= _SUM_CAP).any() or (z * z * np.abs(v_f) >= 2.0**62).any():
            raise ValueError(
                "stream_anomalies: z-test terms exceed the int64 "
                "overflow envelope — rescale the unit or shorten the "
                "window (the batch twin fails the same way under ANSI)"
            )
        lhs = (new_c * n - s) ** 2
        rhs = z * z * (n * ss - s * s)
        keep = (n >= min_n) & (lhs > rhs)
        cut = np.searchsorted(us, us[-1] - window_us, side="left")
        state.update((us[cut:].tolist(), c[cut:].tolist()))
        out = rows.loc[
            rows.index[keep], ["event_id", "us", "cents"]
        ].reset_index(drop=True)
        yield pd.DataFrame(
            {
                "event_id": out["event_id"].astype("int64"),
                "key": np.full(len(out), key[0], dtype=np.int64),
                "us": out["us"].astype("int64"),
                "cents": out["cents"].astype("int64"),
                "n_window": n[keep],
            }
        )

    return fold


def stream_anomalies(
    spark: SparkSession,
    in_dir: str,
    window_us: int = 7 * 86_400_000_000,
    z: int = 2,
    min_n: int = 8,
    key_col: str = "key",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Drain a time-chunked ``(key, us, event_id, cents)`` parquet
    stream (``availableNow``) through the window-buffer keyed state;
    returns the flagged rows ``(event_id, key, us, cents, n_window)``
    — identical to batch ``rolling_anomalies`` over the concatenated
    input."""
    if window_us <= 0 or z <= 0 or min_n < 2:
        raise ValueError("window_us and z must be positive, min_n >= 2")
    schema = spark.read.parquet(in_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(in_dir).withColumnRenamed(key_col, "key")
    folded = stream.groupBy("key").applyInPandasWithState(
        _make_fold(window_us, z, min_n),
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"anom_{uuid.uuid4().hex[:8]}"
    q = (
        folded.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
