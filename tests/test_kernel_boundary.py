"""The Arrow bucket boundary lives in one module: outside
``operators/_kernel.py`` (the grouped-kernel runner, ``apply_grouped``) and
``operators/blocks.py`` (whose output is blocks, not entries) no operator
factorizes series keys itself. Static text check, no SparkSession."""

import pathlib

OPERATORS = pathlib.Path(__file__).resolve().parent.parent / "scala_timeseries_lib_spark" / "operators"


def test_factorize_only_in_the_kernel_module():
    sites = sorted(
        f"{p.name}:{i}"
        for p in OPERATORS.glob("*.py")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "pd.factorize(" in line
    )
    assert sites and {s.split(":")[0] for s in sites} <= {"_kernel.py", "blocks.py"}, sites
