"""Column-level function libraries (text analysis, vectors, multimodal).

All pure-expression helpers return ``pyspark.sql.Column`` built from
JVM-side builtins — no Python UDFs in the hot path."""

from pyspark.sql import Column
from pyspark.sql import functions as F

from pyblazing_spark.functions import text, vectors  # noqa: F401


def long_array_lit(values) -> Column:
    """array<bigint> literal from a Python int sequence in ONE py4j
    round-trip.

    ``F.lit(list)`` expands to ``array(lit(v0), lit(v1), ...)`` — one
    py4j call PER ELEMENT — so a bounded driver-built table (a bloom
    bitmap of up to 32768 words) costs ~0.5 s at 1k elements and 33.4 s
    at the cap, all driver-side plan construction (guide §5). Shipping
    the same values as ONE parsed SQL expression takes 0.032 s at the
    cap and yields the identical array (value- and dtype-equal, pinned by
    test_long_array_lit_matches_f_lit); Catalyst constant-folds the
    parsed ``array(...)`` into a single Literal before execution, so
    the physical plan is unchanged."""
    body = ",".join(str(int(v)) + "L" for v in values)
    return F.expr(f"CAST(array({body}) AS array<bigint>)")
