"""The fused full/partial rollup split (rollup_time_weighted_parts) must be
bit-identical to the single explode+aggregate path on disjoint entries.

Reference semantics: TimeSeries.scala:501-508 (rollup) over well-formed
series (strictly ordered, non-overlapping entries, TimeSeries.scala:566-577).
"""

import pytest
from pyspark.sql import functions as F

from scala_timeseries_lib_spark.operators import series_ops as ops

SCHEMA = "k string, ts long, value double, validity long"
STEP = 100


def _assert_same(spark, rows, step=STEP, origin=0):
    df = spark.createDataFrame(rows, SCHEMA)
    new = ops.rollup_time_weighted(df, ["k"], step, origin=origin, disjoint=True)
    old = ops.rollup_time_weighted(df, ["k"], step, origin=origin, disjoint=False)
    cols = new.columns
    j = new.alias("n").join(
        old.alias("o"),
        on=[F.col(f"n.{c}").eqNullSafe(F.col(f"o.{c}")) for c in cols],
        how="full",
    )
    dangling = j.filter(
        F.col(f"n.{cols[0]}").isNull() | F.col(f"o.{cols[0]}").isNull()
    ).count()
    assert dangling == 0, f"split != legacy on {rows}"
    assert new.count() == old.count()


EDGE_CASES = [
    # exactly one full bucket
    [("a", 0, 1.5, 100)],
    # aligned start, partial tail
    [("a", 0, 2.5, 150)],
    # partial head, aligned end
    [("a", 50, 3.5, 50)],
    # entry inside one bucket (head == tail collapse)
    [("a", 120, -1.25, 30)],
    # straddles exactly one boundary, no full bucket
    [("a", 70, 7.0, 60)],
    # long entry: head + many full + tail
    [("a", 30, 0.125, 1234)],
    # validity 1 at a boundary and just before one
    [("a", 100, 9.0, 1), ("a", 199, 8.0, 1)],
    # negative timestamps across zero
    [("a", -250, 4.0, 300)],
    # adjacent entries meeting mid-bucket (cross-entry merge in one bucket)
    [("a", 0, 1.0, 150), ("a", 150, 2.0, 150)],
    # several short entries inside one bucket
    [("a", 10, 1.0, 20), ("a", 40, 2.0, 10), ("a", 55, 3.0, 30)],
    # two series, interleaved shapes
    [("a", 0, 1.0, 250), ("b", 25, 2.0, 50), ("b", 90, 3.0, 400)],
]


@pytest.mark.parametrize("rows", EDGE_CASES)
def test_split_matches_legacy(spark, rows):
    _assert_same(spark, rows)


@pytest.mark.parametrize("rows", EDGE_CASES[:6])
def test_split_matches_legacy_nonzero_origin(spark, rows):
    _assert_same(spark, rows, origin=37)


def test_split_reaggregates_identically(spark):
    """Chaining reaggregate_rollup over the split output must equal
    reaggregation over the legacy output (tier chain equivalence)."""
    rows = [
        ("a", 30, 0.125, 1234),
        ("a", 1264, 5.0, 1000),
        ("b", 0, 1.0, 90),
        ("b", 95, 2.0, 800),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    fine_new = ops.rollup_time_weighted(df, ["k"], STEP, disjoint=True)
    fine_old = ops.rollup_time_weighted(df, ["k"], STEP, disjoint=False)
    coarse_new = ops.reaggregate_rollup(fine_new, ["k"], 1000)
    coarse_old = ops.reaggregate_rollup(fine_old, ["k"], 1000)

    # reaggregation sums floats in row order, which differs between the two
    # fine-tier layouts -- 1-ulp drift is inherent to any order change (the
    # registered oracle queries round to 5 decimals; 9 here is far stricter)
    def norm(df):
        return sorted(
            (r["k"], r["bucket"], round(r["twmean"], 9), r["vmin"], r["vmax"],
             round(r["integral_s"], 9), r["support_ms"], r["n_pieces"])
            for r in df.collect()
        )

    assert norm(coarse_new) == norm(coarse_old)


def test_branchwise_reagg_combine(spark):
    """reagg(reagg(full) ++ reagg(partial)) == reagg(union) -- the
    shuffle-light chain used by the tier pipeline and scaling bench."""
    rows = [
        ("a", 30, 0.125, 1234),
        ("a", 1264, 5.0, 321),
        ("b", 7, -2.0, 86),
        ("b", 95, 2.0, 801),
    ]
    df = spark.createDataFrame(rows, SCHEMA).repartition(4, "k")
    full, partial = ops.rollup_time_weighted_parts(df, ["k"], STEP)
    via_branches = ops.reaggregate_rollup(
        ops.reaggregate_rollup(full, ["k"], 1000).unionByName(
            ops.reaggregate_rollup(partial, ["k"], 1000)
        ),
        ["k"],
        1000,
    )
    via_union = ops.reaggregate_rollup(full.unionByName(partial), ["k"], 1000)
    a = sorted((r["k"], r["bucket"], round(r["twmean"], 9), r["vmin"], r["vmax"],
                round(r["integral_s"], 9), r["support_ms"], r["n_pieces"])
               for r in via_branches.collect())
    b = sorted((r["k"], r["bucket"], round(r["twmean"], 9), r["vmin"], r["vmax"],
                round(r["integral_s"], 9), r["support_ms"], r["n_pieces"])
               for r in via_union.collect())
    assert a == b


def test_overlapping_entries_need_general_path(spark):
    """Overlapping input: the general path merges contributions; the split
    path is documented as disjoint-only (its fast path would emit duplicate
    (key, bucket) rows here)."""
    rows = [("a", 0, 1.0, 100), ("a", 0, 3.0, 100)]
    df = spark.createDataFrame(rows, SCHEMA)
    general = ops.rollup_time_weighted(df, ["k"], STEP, disjoint=False)
    out = general.collect()
    assert len(out) == 1
    assert out[0]["twmean"] == pytest.approx(2.0)
    assert out[0]["support_ms"] == 200


def test_split_matches_legacy_randomized(spark):
    """Property sweep: random disjoint series (random gaps/validities around
    several step multiples, positive and negative timestamps, multiple
    origins) must stay bit-identical between the split and legacy paths."""
    import random

    rng = random.Random(1234)
    rows = []
    for k in range(12):
        t = rng.randint(-5_000, 5_000)
        for _ in range(rng.randint(1, 40)):
            validity = rng.choice(
                [1, 7, STEP - 1, STEP, STEP + 1, 3 * STEP, 10 * STEP + 13]
            )
            rows.append((f"s{k}", t, round(rng.uniform(-100, 100), 6), validity))
            t += validity + rng.choice([0, 0, 0, 1, 13, STEP, 5 * STEP])
    for origin in (0, 37):
        _assert_same(spark, rows, origin=origin)
