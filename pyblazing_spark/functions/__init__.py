"""Column-level function libraries (text analysis, vectors, multimodal).

All pure-expression helpers return ``pyspark.sql.Column`` built from
JVM-side builtins — no Python UDFs in the hot path."""

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

from pyblazing_spark.functions import text, vectors  # noqa: F401

_INFINITIES = {float("inf"): "Infinity", float("-inf"): "-Infinity"}
#: integral type -> SQL literal suffix (``7Y`` tinyint ... ``7L`` bigint)
_INTEGRAL = {ByteType: "Y", ShortType: "S", IntegerType: "", LongType: "L"}


def sql_literal(value, dtype: DataType) -> str:
    """SQL text for one literal of EXACTLY ``dtype`` — the one renderer for
    driver-held values shipped back into a plan. Integrals use typed
    suffixes (``7L``), so arrays of 32k words stay cheap to parse; the
    other types are ``CAST('<text>' AS <type>)`` with exact text:
    shortest round-trip floats (NaN and infinities spelled out), plain-
    notation decimals, ISO dates and wall-clock ``TIMESTAMP_NTZ``. An
    instant (``TIMESTAMP``) renders as its epoch microseconds, so the
    session time zone cannot shift it; a naive ``datetime`` is read the
    way PySpark reads it, in the driver's local zone. Strings escape
    ``\\`` and ``'``; NULL is a typed ``CAST(NULL AS <type>)``."""
    type_sql = dtype.simpleString()
    if value is None:
        return f"CAST(NULL AS {type_sql})"
    if type(dtype) in _INTEGRAL:
        return f"{int(value)}{_INTEGRAL[type(dtype)]}"
    if isinstance(dtype, StringType):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(dtype, BooleanType):
        return "true" if value else "false"
    if isinstance(dtype, BinaryType):
        return f"X'{bytes(value).hex()}'"
    if isinstance(dtype, TimestampType):
        return f"timestamp_micros({dtype.toInternal(value)}L)"
    if isinstance(dtype, (FloatType, DoubleType)):
        v = float(value)
        body = "NaN" if v != v else _INFINITIES.get(v, repr(v))
    elif isinstance(dtype, DecimalType):
        body = format(Decimal(value), "f")
    elif isinstance(dtype, DateType):
        body = value.isoformat()
    elif isinstance(dtype, TimestampNTZType):
        body = value.replace(tzinfo=None).isoformat(sep=" ")
    else:
        raise TypeError(f"no SQL literal rendering for {type_sql}")
    return f"CAST('{body}' AS {type_sql})"


def array_lit(values, dtype: DataType) -> Column:
    """``array<dtype>`` literal from a Python sequence in ONE py4j
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
    body = ",".join(sql_literal(v, dtype) for v in values)
    return F.expr(f"CAST(array({body}) AS array<{dtype.simpleString()}>)")
