"""Salted-bucket dispatch for per-series kernels.

``applyInPandas`` costs ~2-3 ms of Arrow/pandas overhead per Spark group.
Web-scale series tables have millions of small series, so grouping by the
raw series key would be dominated by that overhead. Instead we group by
``hash(key) % n_buckets`` -- every UDF call receives a whole bucket of
series and fans out to the kernel (vectorized across the bucket where the
kernel supports it). This is the salted-repartition scheme the north rule
asks for: many small series cannot pile up behind one another, and AQE
skew splitting applies underneath. A single pathological SERIES still
lands in one bucket (its kernel is order-dependent); for the named merge
ops that shape is handled by the merge guard's automatic time-slicing
(``operators.merge._route_hot_keys``), which splits a measured-hot series
at absolute time boundaries and repairs the RLE at the borders
relationally.

Most operators run a grouped numpy kernel over the whole bucket through
:func:`apply_grouped`, which owns the bucket chores around it. Per bucket:

1. an empty bucket returns an empty frame;
2. rows are sorted by ``(*key_cols, "ts")`` (stable) and the keys are
   factorized (``use_na_sentinel=False``, so a null key component is a
   series of its own), giving ascending series codes -- the exported
   :func:`factorize_series`, which ``write_blocks`` (blocks, not entries)
   also uses;
3. ``kernel(codes, ts, value, validity[, side])`` runs once; ``side`` is
   passed when the input carries the merge family's side tag column. It
   returns ``(codes, ts, *values, validity)``, or ``None`` when its
   offset-packed time axis would overflow (n_series x span >= 2^62 ms);
4. on ``None`` the same kernel runs once per series with all codes 0, and
   the parts are concatenated; a single series that still overflows (its
   own span plus the window or rate reaches 2^62 ms) raises ``ValueError``;
5. ``compress=True`` RLE-fits the result with ``fit_arrays_grouped``
   (one value column; a kernel with several compresses itself);
6. the codes map back to key values. Output schema: the key fields, ``ts``
   long, the ``values`` columns, ``validity`` long. A value column named by
   a string is a double (the input ``value`` is cast to float64); one given
   as a ``StructField`` keeps that type and the input is passed uncast.

Kernels with no grouped form (the sequential window sweep with its queue
aggregators and strict resample, predicate-delimited windows) run in the
per-series mode: :func:`per_series_kernel` turns a one-series function over
``(ts, value, validity)`` tuples into a kernel that is step 4's loop, so they
get the same sort, factorize, RLE fit and key re-attach. This module is the
only place a bucket is split into series.

The Spark side is :func:`apply_per_bucket`, looked up as a module global
on every call, so a wrapper installed on that name sees every grouped
kernel too.
"""

from __future__ import annotations

import functools
import math
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from .._env import env_int
from .._records import decision_record

__all__ = ["apply_per_bucket", "apply_grouped", "per_series_kernel", "factorize_series"]

# Estimated (Catalyst sizeInBytes, i.e. roughly compressed-input) bytes per
# salt bucket. Each bucket is materialized as ONE pandas frame in a Python
# worker, so this bounds kernel-stage worker memory at any input size. An
# input below defaultParallelism buckets' worth of bytes runs one bucket per
# core: one task wave (see _default_buckets).
_BUCKET_BYTES = env_int("SPARK_GRAFT_KERNEL_BUCKET_BYTES", 8 << 20)


def _default_buckets(df: DataFrame) -> int:
    """Size-adaptive salt-bucket count for the kernel stage.

    ``ceil(estimated_bytes / _BUCKET_BYTES)`` clamped to
    ``[defaultParallelism, defaultParallelism * 32]``. The estimate is
    Catalyst's driver-side ``sizeInBytes`` on the already-built plan (no job
    runs). A small input gets one bucket per core, so the stage is exactly
    one task wave; a large one gets byte-bounded buckets, so worker memory
    stays flat while parallelism grows with the data, up to 32 waves.

    Why no more tasks than cores at small size: every Python task has a
    fixed cost with no data in it, ~0.3 s of CPU on 4 cores, much of it
    pyspark's per-task ``importlib.invalidate_caches()``
    (``worker_util.setup_spark_files``, 0.15-0.5 s a call), which re-reads
    the ``pyspark.zip`` directory once per zip importer on the worker's
    path. Extra tasks buy no parallelism, only that cost (16 small buckets
    on 4 cores run in 4 waves; BENCH/kernel_one_wave_r11.json).

    Falls back to ``max(4 * defaultParallelism, 16)`` when the estimate is
    unusable (streaming frames, unknown-stat sources report 2^63-ish
    sentinels). The choice is one decision record (``op`` ``kernel.buckets``).
    """
    t0 = time.perf_counter()
    sc = df.sparkSession.sparkContext
    p = max(sc.defaultParallelism, 1)
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        est = -1
    fallback = est <= 0 or est >= (1 << 50)
    if fallback:
        n = max(p * 4, 16)
    else:
        n = min(max(math.ceil(est / _BUCKET_BYTES), p), p * 32)
    decision_record(
        "kernel.buckets",
        n,
        {"est_bytes": est, "default_parallelism": p,
         "bucket_bytes": _BUCKET_BYTES, "fallback": fallback},
        (time.perf_counter() - t0) * 1000.0,
    )
    return n


def apply_per_bucket(df: DataFrame, key_cols: list[str], bucket_fn, out_schema):
    """Run ``bucket_fn(pdf) -> pdf`` once per salt bucket (a whole batch of
    series, key columns included in both input and output). For kernels that
    can vectorize ACROSS series (e.g. the offset-packed merge) this removes
    the per-series Python loop entirely."""
    n_buckets = _default_buckets(df)
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))
    )
    # pin the kernel stage's parallelism: the cost here is Python CPU per
    # row, not shuffle bytes, so AQE's size-based coalescing (which would
    # happily squash a few-MB shuffle into ONE partition and serialize the
    # whole Arrow stage) must not apply. A user-numbered repartition is
    # never coalesced by AQE; groupBy reuses its hash distribution, so no
    # second exchange appears.
    salted = salted.repartition(n_buckets, "_salt")
    return salted.groupBy("_salt").applyInPandas(
        lambda pdf: bucket_fn(pdf.drop(columns=["_salt"])), schema=out_schema
    )


def apply_grouped(df, key_cols, kernel, values=("value",), compress=False):
    """Run a grouped numpy ``kernel`` once per salt bucket; the bucket
    contract (sort, factorize, per-series overflow fallback, RLE fit, key
    re-attach, output schema) is in the module docstring. Dispatches through
    :func:`apply_per_bucket`."""
    import numpy as np

    fields = [v if isinstance(v, StructField) else StructField(v, DoubleType())
              for v in values]
    out_schema = StructType([
        *(df.schema[k] for k in key_cols),
        StructField("ts", LongType()),
        *fields,
        StructField("validity", LongType()),
    ])
    value_dtype = np.float64 if isinstance(fields[0].dataType, DoubleType) else None
    bucket = functools.partial(
        _grouped_bucket, key_cols=list(key_cols), kernel=kernel,
        out_names=out_schema.fieldNames(), value_dtype=value_dtype,
        compress=compress,
    )
    return apply_per_bucket(df, key_cols, bucket, out_schema)


def per_series_kernel(fn):
    """Grouped kernel running a one-series ``fn(entries) -> entries`` over
    ``(ts, value, validity)`` tuples through step 4's loop, once per series
    (output values become doubles)."""
    import numpy as np

    entry = np.dtype([("ts", np.int64), ("value", np.float64), ("validity", np.int64)])

    def one(codes, ts, value, validity):
        out = np.array(fn(list(zip(ts.tolist(), value.tolist(), validity.tolist()))),
                       dtype=entry)
        return np.zeros(out.size, np.int64), out["ts"], out["value"], out["validity"]

    return lambda codes, *cols: _per_series(one, codes, cols)


def factorize_series(pdf, key_cols):
    """Step 2 of the bucket contract: ``(sorted pdf, int64 codes, uniques)``."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values([*key_cols, "ts"], kind="mergesort", ignore_index=True)
    codes, uniques = pd.factorize(
        pd.MultiIndex.from_frame(pdf[key_cols]), use_na_sentinel=False
    )
    return pdf, codes.astype(np.int64), uniques


def _grouped_bucket(pdf, key_cols, kernel, out_names, value_dtype, compress):
    import numpy as np
    import pandas as pd

    from ..kernel.fitter import fit_arrays_grouped

    if len(pdf) == 0:
        return pd.DataFrame(columns=out_names)
    pdf, codes, uniques = factorize_series(pdf, key_cols)
    cols = [pdf["ts"].to_numpy(np.int64), pdf["value"].to_numpy(value_dtype),
            pdf["validity"].to_numpy(np.int64)]
    if "side" in pdf.columns:
        cols.append(pdf["side"].to_numpy())
    res = kernel(codes, *cols)
    if res is None:
        res = _per_series(kernel, codes, cols)
    oc, ot, *ov, od = res
    if compress:
        keep, ot, v0, od = fit_arrays_grouped(oc, ot, ov[0], od, compress=True)
        oc, ov = oc[keep], [v0]
    key_vals = uniques[oc].to_frame(index=False)
    key_vals.columns = key_cols
    out = pd.DataFrame(dict(zip(out_names[len(key_cols):], [ot, *ov, od])))
    return pd.concat([key_vals, out], axis=1)


def _per_series(kernel, codes, cols):
    """Step 4's loop: the kernel once per series (codes 0), results re-coded
    and concatenated. Also the body of :func:`per_series_kernel`."""
    import numpy as np

    starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
    parts = []
    for s0, s1 in zip(starts, np.r_[starts[1:], codes.size]):
        res = kernel(np.zeros(s1 - s0, np.int64), *(c[s0:s1] for c in cols))
        if res is None:
            raise ValueError(
                "a single series spans >= 2^62 ms together with its window "
                "or rate; the packed int64 time axis cannot hold it"
            )
        parts.append((np.full(res[0].size, codes[s0], np.int64), *res[1:]))
    return [np.concatenate(p) for p in zip(*parts)]
