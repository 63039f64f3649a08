"""Gorilla archival blocks table: the GorillaSuperBlock / MultiSeriesBlock
analog (reference archive/GorillaSuperBlock.scala, MultiSeriesBlock.scala).

One row per block: the series key columns plus

- ``block_start_ts`` / ``block_validity`` -- the TSEntry wrapping the block
  (NestedTimeSeries analog, immutable/NestedTimeSeries.scala:114-117)
- ``block_type``  -- 'tuple' | 'sampled' (gorilla.thrift:37-40)
- ``sample_rate`` -- nullable, sampled blocks only
- ``block_bytes`` -- the serialized GorillaBlock (framing
  GorillaBlock.scala:39-48)
- ``n_entries``   -- <= max_entries_per_block (TimeBucketer.scala:24-46)

The reference's superblock footer index (timestamp -> byte offset) maps to
the table's partition/min-max pruning: a time-range read prunes blocks on
``block_start_ts``/``block_validity`` before any decoding happens, and the
decode kernel touches only surviving rows.

Both directions are array-native: the encode segments a whole salt bucket of
series into blocks with numpy (boundary splits, per-bucket max-n chunking and
block validities all vectorized; the only per-block Python is the one
inherent codec call producing each ``bytes`` payload), and the decode feeds
the codec's numpy outputs straight into pandas columns -- no per-entry tuple
lists in either direction.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = ["write_blocks", "read_blocks"]


def _split_pieces(ts, value, validity, step: int):
    """Split entries at bucket boundaries of width ``step`` (anchored at 0;
    epoch-ms timestamps make every per-series origin a multiple of ``step``,
    so global alignment is identical to TimeBucketer's per-series bucket
    stream). Returns (row_index, piece_ts, piece_validity, piece_bucket)."""
    until = ts + validity
    first_b = ts // step
    last_b = (until - 1) // step
    n_pieces = (last_b - first_b + 1).astype(np.int64)
    rep = np.repeat(np.arange(ts.size), n_pieces)
    total = int(n_pieces.sum())
    within = np.arange(total) - np.repeat(np.cumsum(n_pieces) - n_pieces, n_pieces)
    p_bucket = first_b[rep] + within
    p_start = np.maximum(ts[rep], p_bucket * step)
    p_end = np.minimum(until[rep], (p_bucket + 1) * step)
    return rep, p_start, p_end - p_start, p_bucket


def write_blocks(
    entries: DataFrame,
    key_cols: list[str],
    bucket_ms: int = 86_400_000,
    max_entries_per_block: int = 1000,
    compress: bool = True,
) -> DataFrame:
    """Encode an entries table into Gorilla blocks, one block per
    (series, time bucket, <=max_entries chunk). Returns the blocks table.

    Block boundaries follow TimeBucketer.bucketEntries with
    maxNumberOfEntries (TimeBucketer.scala:24-46): entries straddling a
    bucket boundary are split there; a block's validity runs to the next
    block's start when the next time bucket is non-empty and adjacent, else
    to its own bucket's end boundary (the empty-bucket / trailing-marker
    rule). Sequential twin: kernel.bucket.bucket_entries_maxn, pinned
    byte-equal in tests."""
    import pandas as pd

    from ..kernel.gorilla import compress_tuple_block_arrays
    from ._kernel import apply_per_bucket, factorize_series

    key_fields = [entries.schema[k] for k in key_cols]
    out_schema = StructType(
        [
            *key_fields,
            StructField("block_start_ts", LongType()),
            StructField("block_validity", LongType()),
            StructField("block_type", StringType()),
            StructField("sample_rate", LongType()),
            StructField("block_bytes", BinaryType()),
            StructField("n_entries", IntegerType()),
        ]
    )
    out_names = [f.name for f in out_schema.fields]
    step = int(bucket_ms)
    max_n = int(max_entries_per_block)

    def _encode_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=out_names)
        pdf, codes, _ = factorize_series(pdf, key_cols)
        ts = pdf["ts"].to_numpy(np.int64)
        val = pdf["value"].to_numpy(np.float64)
        dur = pdf["validity"].to_numpy(np.int64)

        rep, p_ts, p_dur, p_bucket = _split_pieces(ts, val, dur, step)
        p_code = codes[rep]
        p_val = val[rep]

        # rank within (series, time-bucket) -> max-n chunk index
        grp_change = np.r_[
            True, (p_code[1:] != p_code[:-1]) | (p_bucket[1:] != p_bucket[:-1])
        ]
        grp_starts = np.flatnonzero(grp_change)
        rank = np.arange(p_ts.size) - np.repeat(
            grp_starts, np.diff(np.r_[grp_starts, p_ts.size])
        )
        chunk = rank // max_n
        blk_change = grp_change | np.r_[False, chunk[1:] != chunk[:-1]]
        s_idx = np.flatnonzero(blk_change)
        e_idx = np.r_[s_idx[1:], p_ts.size]

        blk_code = p_code[s_idx]
        blk_bucket = p_bucket[s_idx]
        blk_start = p_ts[s_idx]
        # next block's start bounds this block's validity, unless the next
        # block is a different series / more than one bucket ahead (an empty
        # bucket or the trailing marker ends the block at its own boundary)
        nxt_code = np.r_[blk_code[1:], -1]
        nxt_bucket = np.r_[blk_bucket[1:], np.int64(-2)]
        nxt_start = np.r_[blk_start[1:], np.int64(0)]
        adjacent = (nxt_code == blk_code) & (nxt_bucket <= blk_bucket + 1)
        blk_until = np.where(adjacent, nxt_start, (blk_bucket + 1) * step)

        payloads = [
            compress_tuple_block_arrays(
                p_ts[s:e], p_val[s:e], p_dur[s:e], compress=compress
            )
            for s, e in zip(s_idx, e_idx)
        ]
        out = pdf.iloc[rep[s_idx]][key_cols].reset_index(drop=True)
        out["block_start_ts"] = blk_start
        out["block_validity"] = blk_until - blk_start
        out["block_type"] = "tuple"
        out["sample_rate"] = pd.array([None] * len(payloads), dtype="Int64")
        out["block_bytes"] = payloads
        out["n_entries"] = (e_idx - s_idx).astype(np.int32)
        return out[out_names]

    return apply_per_bucket(entries, key_cols, _encode_bucket, out_schema)


def read_blocks(
    blocks: DataFrame,
    key_cols: list[str],
    from_ts: int | None = None,
    to_ts: int | None = None,
) -> DataFrame:
    """Decode a blocks table back to entries, pruning blocks by time range
    BEFORE decoding (the superblock-index read path,
    GorillaSuperBlock.scala:53-84)."""
    import pandas as pd

    from ..kernel.gorilla import decompress_arrays, decompress_tuple_blocks_arrays

    if from_ts is not None:
        blocks = blocks.filter(
            F.col("block_start_ts") + F.col("block_validity") > from_ts
        )
    if to_ts is not None:
        blocks = blocks.filter(F.col("block_start_ts") < to_ts)

    key_fields = [blocks.schema[k] for k in key_cols]
    out_schema = StructType(
        [
            *key_fields,
            StructField("ts", LongType()),
            StructField("value", DoubleType()),
            StructField("validity", LongType()),
        ]
    )

    def _decode(batches):
        # all blocks of the Arrow batch decode in one batch
        # (kernel/gorilla.py decompress_arrays): a wide batch runs the
        # lockstep decoder, which advances every block one entry per numpy
        # step, so Python overhead amortizes over the batch width
        for pdf in batches:
            rows = list(pdf.itertuples(index=False))
            sampled = [
                bytes(r.block_bytes) for r in rows if r.block_type == "sampled"
            ]
            tuples = [
                bytes(r.block_bytes) for r in rows if r.block_type != "sampled"
            ]
            dec_sampled = iter(decompress_arrays(sampled))
            dec_tuples = iter(decompress_tuple_blocks_arrays(tuples))
            ts_p, val_p, dur_p, counts = [], [], [], []
            for row in rows:
                if row.block_type == "sampled":
                    t, v = next(dec_sampled)
                    v = v.view(np.float64)
                    d = np.full(t.size, int(row.sample_rate), np.int64)
                else:
                    t, v, d = next(dec_tuples)
                ts_p.append(t)
                val_p.append(v)
                dur_p.append(d)
                counts.append(t.size)
            if not counts:
                yield pd.DataFrame(
                    columns=[*key_cols, "ts", "value", "validity"]
                )
                continue
            reps = np.asarray(counts, np.int64)
            data = {k: pdf[k].to_numpy().repeat(reps) for k in key_cols}
            data["ts"] = np.concatenate(ts_p)
            data["value"] = np.concatenate(val_p)
            data["validity"] = np.concatenate(dur_p)
            yield pd.DataFrame(data)

    return blocks.mapInPandas(_decode, schema=out_schema)
