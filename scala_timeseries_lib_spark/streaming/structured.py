"""Structured Streaming ingestion: the AppendableEntryStream contract
(zio/AppendableEntryStream.scala:8-60) as a stateful streaming operator.

``stream_fit_entries`` turns an unbounded stream of raw observations into a
stream of FINALIZED entries via ``applyInPandasWithState``: the per-series
state is exactly the reference fitter's single pending "last entry"
(TSEntryFitter.scala:14-16) -- the next observation may still trim or
RLE-extend it, so it is withheld until a later row closes it. Late rows
(ts <= pending ts) are dropped, matching the reference's strictly-increasing
contract (TimestampValidator.scala:89-94; the reference throws, a stream
counts-and-drops).

Scale notes: state is one tiny fixed-width row per series key, managed by
Spark's state store (RocksDB-backed on a real cluster), so hundreds of
millions of series are fine; the shuffle is the usual hash on the key.
Restart/exactly-once comes from the streaming checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

__all__ = [
    "stream_fit_entries",
    "stream_merge_series",
    "STATE_SCHEMA",
    "MERGE_STATE_SCHEMA",
]


STATE_SCHEMA = StructType(
    [
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
        StructField("validity", LongType()),
    ]
)


MERGE_STATE_SCHEMA = StructType(
    [
        StructField("s0_ts", ArrayType(LongType())),
        StructField("s0_val", ArrayType(DoubleType())),
        StructField("s0_dur", ArrayType(LongType())),
        StructField("s1_ts", ArrayType(LongType())),
        StructField("s1_val", ArrayType(DoubleType())),
        StructField("s1_dur", ArrayType(LongType())),
        StructField("last0", LongType()),
        StructField("last1", LongType()),
        StructField("emitted_upto", LongType()),
    ]
)

_MERGE_NEG_INF = -(1 << 62)


def stream_merge_series(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    op: str = "plus",
    left_default: float | None = None,
    right_default: float | None = None,
) -> DataFrame:
    """Streaming interval merge of two entry streams per series key.

    The reference only ever SKETCHED this: zio/StreamMerger.scala:3-58 is
    commented-out, unfinished code. This is the working Structured
    Streaming analog, built on the same boundary-union semantics as the
    batch engine (TimeSeriesMerger.scala:13-196).

    Input contract: each side is a stream of FINALIZED fitted entries per
    key — e.g. the output of :func:`stream_fit_entries` — so within a key,
    ``ts`` is strictly increasing and no future entry can start before the
    end of the last received one. That gives each side a STABLE FRONTIER
    (the end of its last received entry): everything strictly below it is
    fully determined. The merge is therefore exact on
    ``[-inf, min(frontier_left, frontier_right))`` at every micro-batch:

    - per key, both sides' undecided entries live in the state store
      (arrays — entries are pruned the moment everything they can influence
      has been emitted, so state is bounded by the inter-stream LAG, not
      the stream length);
    - each batch recomputes the merged segments over the pending entries
      (the vectorized kernel, locally in time) and emits every segment
      whose END is strictly below the joint frontier AND whose successor
      region is already determined — the one segment touching the frontier
      is withheld because later data could still RLE-extend it (the same
      pending-entry discipline as the streaming fitter);
    - late rows (ts <= the side's last seen ts) are counted out, matching
      the engine's late-data contract.

    Emitted rows are FINAL and equal the batch ``merge_series`` output
    restricted to the stable prefix (pinned by test, including a
    checkpoint restart between micro-batches). Ops that can fill an
    (undefined, undefined) segment (``minus`` with both defaults, Python
    callables) are rejected: pruned history would change the fill span.
    One stream-stream union, one hash shuffle on the key, state bounded by
    the side lag — the 100-TB-stream shape.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..kernel.merge import merge_apply_numeric
    from ..operators.merge import NUMERIC_OPS

    if callable(op) or op not in NUMERIC_OPS:
        raise ValueError(
            f"streaming merge supports the named ops {NUMERIC_OPS}, got {op!r}"
        )
    if op == "minus" and left_default is not None and right_default is not None:
        raise ValueError(
            "streaming merge cannot fill (undefined, undefined) segments "
            "(minus with both defaults): pruned history would change the "
            "fill span"
        )

    tagged = left.select(
        *key_cols, "ts", "value", "validity", F.lit(0).alias("side")
    ).unionByName(
        right.select(*key_cols, "ts", "value", "validity", F.lit(1).alias("side"))
    )
    key_fields = [left.schema[k] for k in key_cols]
    out_schema = StructType(
        [
            *key_fields,
            StructField("ts", LongType()),
            StructField("value", DoubleType()),
            StructField("validity", LongType()),
        ]
    )
    out_names = [f.name for f in out_schema.fields]

    def _merge_group(key, pdf_iter, state: GroupState):
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        if state.exists:
            (s0_ts, s0_val, s0_dur, s1_ts, s1_val, s1_dur,
             last0, last1, emitted_upto) = state.get
            sides = [
                [list(s0_ts), list(s0_val), list(s0_dur)],
                [list(s1_ts), list(s1_val), list(s1_dur)],
            ]
            lasts = [int(last0), int(last1)]
            emitted_upto = int(emitted_upto)
        else:
            sides = [[[], [], []], [[], [], []]]
            lasts = [_MERGE_NEG_INF, _MERGE_NEG_INF]
            emitted_upto = _MERGE_NEG_INF

        for s in (0, 1):
            part = rows[rows["side"] == s].sort_values("ts")
            for ts, val, dur in zip(
                part["ts"].tolist(), part["value"].tolist(),
                part["validity"].tolist(),
            ):
                if ts <= lasts[s]:
                    continue  # late vs the side's strictly-increasing contract
                sides[s][0].append(int(ts))
                sides[s][1].append(float(val))
                sides[s][2].append(int(dur))
                lasts[s] = int(ts)

        out = pd.DataFrame(columns=out_names)
        if sides[0][0] and sides[1][0]:
            frontiers = [
                sides[s][0][-1] + sides[s][2][-1] for s in (0, 1)
            ]
            frontier = min(frontiers)
            m_ts, m_val, m_dur = merge_apply_numeric(
                np.asarray(sides[0][0], np.int64),
                np.asarray(sides[0][1], np.float64),
                np.asarray(sides[0][2], np.int64),
                np.asarray(sides[1][0], np.int64),
                np.asarray(sides[1][1], np.float64),
                np.asarray(sides[1][2], np.int64),
                op=op, compress=True,
                left_default=left_default, right_default=right_default,
            )
            m_end = m_ts + m_dur
            # clip at the emitted watermark: pruned entries all END at or
            # below it, so they can only distort recomputed values STRICTLY
            # below the watermark — and compression could drag such a stale
            # run across it. Values at/above the watermark are exact, and
            # the batch output provably has a boundary at the watermark
            # (the emission rule guarantees the value changes there), so
            # cutting the straddler reproduces the batch rows.
            straddle = (m_ts < emitted_upto) & (m_end > emitted_upto)
            m_ts = np.where(straddle, emitted_upto, m_ts)
            m_dur = m_end - m_ts
            emit = (m_end > emitted_upto) & (m_end < frontier)
            if emit.any():
                out = pd.DataFrame(
                    {
                        "ts": m_ts[emit],
                        "value": m_val[emit],
                        "validity": m_dur[emit],
                    }
                )
                for col, kv in zip(key_cols, key):
                    out.insert(0, col, kv)
                out = out[out_names]
                emitted_upto = int(m_end[emit].max())
            # prune: entries that end at or below the emitted watermark can
            # no longer influence anything that is still unemitted
            for s in (0, 1):
                keep = [
                    i for i in range(len(sides[s][0]))
                    if sides[s][0][i] + sides[s][2][i] > emitted_upto
                ]
                sides[s] = [[arr[i] for i in keep] for arr in sides[s]]

        state.update((
            sides[0][0], sides[0][1], sides[0][2],
            sides[1][0], sides[1][1], sides[1][2],
            lasts[0], lasts[1], emitted_upto,
        ))
        yield out

    return tagged.groupBy(*key_cols).applyInPandasWithState(
        _merge_group,
        outputStructType=out_schema,
        stateStructType=MERGE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_fit_entries(
    stream_df: DataFrame,
    key_cols: list[str],
    compress: bool = True,
) -> DataFrame:
    """Fit a stream of raw entries per series; emit finalized entries only.

    ``stream_df`` must be a streaming DataFrame with ``key_cols`` +
    ``ts/value/validity``. Returns a streaming DataFrame of the same shape
    whose rows are final: they can never be trimmed or extended by later
    input. The per-series last entry lives in the state store until a later
    micro-batch closes it.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..kernel.fitter import fit

    key_fields = [stream_df.schema[k] for k in key_cols]
    out_schema = StructType(
        [
            *key_fields,
            StructField("ts", LongType()),
            StructField("value", DoubleType()),
            StructField("validity", LongType()),
        ]
    )

    def _fit_group(key, pdf_iter, state: GroupState):
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        entries = sorted(
            zip(rows["ts"].tolist(), rows["value"].tolist(),
                rows["validity"].tolist())
        )
        if state.exists:
            p_ts, p_val, p_dur = state.get
            # late-data contract: only rows strictly after the pending ts
            entries = [(int(p_ts), float(p_val), int(p_dur))] + [
                e for e in entries if e[0] > p_ts
            ]
        fitted = fit(entries, compress=compress)
        if not fitted:
            yield pd.DataFrame(columns=[f.name for f in out_schema.fields])
            return
        last = fitted[-1]
        state.update((int(last[0]), float(last[1]), int(last[2])))
        final = fitted[:-1]
        out = pd.DataFrame(final, columns=["ts", "value", "validity"])
        for col, val in zip(key_cols, key):
            out.insert(0, col, val)
        yield out[[f.name for f in out_schema.fields]]

    return stream_df.groupBy(*key_cols).applyInPandasWithState(
        _fit_group,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
