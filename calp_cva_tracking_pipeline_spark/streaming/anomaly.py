"""Custom stateful streaming operator: per-key running-stats anomaly flags.

Built-in streaming aggregations can't maintain ACROSS-trigger running
moments per key and emit per-event verdicts; this is the
``applyInPandasWithState`` shape the engine uses when Structured
Streaming's native operators (window / session_window /
dropDuplicatesWithinWatermark) genuinely can't express the semantics.

State per key is three numbers (count, mean, M2 — Welford's algorithm),
so state size is O(keys), independent of stream length. Events arrive as
Arrow batches; the same function serves batch DataFrames through
``applyInPandas`` for backfills (no state carryover needed there because a
batch run sees all history at once).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("event_id", LongType(), False),
        StructField("value", DoubleType(), True),
        StructField("zscore", DoubleType(), True),
        StructField("is_anomaly", BooleanType(), False),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("mean", DoubleType()),
        StructField("m2", DoubleType()),
    ]
)

MIN_HISTORY = 5  # no verdicts until a key has this many observations


def _score_batch(
    pdf: pd.DataFrame, n: int, mean: float, m2: float, threshold: float
) -> tuple[pd.DataFrame, int, float, float]:
    """Welford update + z-score per row, in (ts, event_id) order, NULL ts
    last (``sort_values``' order). numpy sorts and iterates: a key's
    group is often tens of rows, where pandas' per-call overhead
    dominates."""
    ts = pdf["ts"].to_numpy()
    if ts.dtype.kind == "M":
        ts = ts.view("i8")
    order = np.lexsort(
        (pdf["event_id"].to_numpy(), ts, pdf["ts"].isna().to_numpy())
    )
    vals = pdf["value"].to_numpy()[order]
    zs, flags = [], []
    for v in vals.tolist():
        z = None
        if v is not None and not math.isnan(v):
            if n >= MIN_HISTORY and m2 > 0:
                std = math.sqrt(m2 / (n - 1))
                z = (v - mean) / std if std > 0 else 0.0
            # Welford running update
            n += 1
            delta = v - mean
            mean += delta / n
            m2 += delta * (v - mean)
        zs.append(round(z, 6) if z is not None else None)
        flags.append(bool(z is not None and abs(z) > threshold))
    out = pd.DataFrame(
        {
            "user_id": pdf["user_id"].to_numpy()[order],
            "event_id": pdf["event_id"].to_numpy()[order],
            "value": vals,
            "zscore": zs,
            "is_anomaly": flags,
        }
    )
    return out, n, mean, m2


def flag_anomalies_stream(
    events: DataFrame, threshold: float = 4.0, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming path: applyInPandasWithState keyed by user_id.

    Emits one verdict row per event; a key's running moments persist in
    the state store across triggers. ProcessingTimeTimeout is deliberately
    NOT used — abandoned keys hold 3 numbers, and evicting them would
    forget a user's baseline.
    """

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, mean, m2 = state.get
        else:
            n, mean, m2 = 0, 0.0, 0.0
        for pdf in batches:
            out, n, mean, m2 = _score_batch(pdf, n, mean, m2, threshold)
            yield out
        state.update((n, mean, m2))

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def flag_anomalies_batch(
    events: DataFrame, threshold: float = 4.0
) -> DataFrame:
    """Backfill path: same scoring over a bounded frame via applyInPandas
    (state starts empty per key — the batch sees the whole history)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out, *_ = _score_batch(pdf, 0, 0.0, 0.0, threshold)
        return out

    return events.groupBy("user_id").applyInPandas(fn, OUTPUT_SCHEMA)
