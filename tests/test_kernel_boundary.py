"""The Arrow bucket boundary lives in one module: outside
``operators/_kernel.py`` (the bucket driver, ``apply_grouped``) no operator
factorizes series keys or splits a bucket into series itself. Static text
check, no SparkSession."""

import pathlib

OPERATORS = pathlib.Path(__file__).resolve().parent.parent / "scala_timeseries_lib_spark" / "operators"


def _sites(needle):
    return sorted(
        f"{p.name}:{i}"
        for p in OPERATORS.glob("*.py")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if needle in line
    )


def test_factorize_only_in_the_kernel_module():
    sites = _sites("pd.factorize(")
    assert sites and {s.split(":")[0] for s in sites} == {"_kernel.py"}, sites


def test_no_pandas_groupby_in_operators():
    # pandas groupby drops NaN keys by default, so a series with a null key
    # component would vanish; the driver factorizes with use_na_sentinel=False
    assert _sites(".groupby(") == []
