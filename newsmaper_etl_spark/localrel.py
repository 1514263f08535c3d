"""JVM-literal DataFrames for small bounded row sets (guide §4: keep
work out of the Python boundary).

``spark.createDataFrame(rows)`` backs the frame with a parallelized RDD
of PICKLED Python rows: every evaluation re-runs a Python-deserializing
scan stage — measured **0.27–0.34 s per evaluation for a 1-row frame**
on this rig (f59449b:OPTIMIZATION_r15.md §literal-frames), i.e. a full
Python-task handshake to produce one literal row, paid per bench repeat
and per broadcast build. The same rows as ONE parsed
``inline(array(named_struct(…)…))`` expression build in ~0.04 s and
evaluate in ~0.04 s (50 rows): a pure JVM literal plan with no Python
worker, no pickling, and no scan — ~6× end-to-end for the 1-row case,
~4× for 50 rows.

``literal_df`` is therefore the preferred form for every SMALL, BOUNDED,
driver-known row set that lands inside a measured plan: planted
contract fixtures, per-k PSL rule slices, learned-centers tables,
epoch-offset maps. It is NOT for data-scaled inputs (those come from
parquet through io.load_table) and NOT a result cache — the rows are
inputs the caller already holds; only their physical encoding changes.

Every value is rendered as ``CAST(<literal> AS <decltype>)`` against the
DDL-declared type, so the emitted schema is identical to the
``createDataFrame`` form it replaces (the driver hash checks schema as
well as values). Types outside the supported set (binary, timestamps,
decimals, maps, nested structs) fall back to ``createDataFrame``
transparently.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SIMPLE = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
)


def _supported(dt: T.DataType) -> bool:
    if isinstance(dt, T.ArrayType):
        return _supported(dt.elementType)
    return isinstance(dt, _SIMPLE)


def _sql_lit(v, dt: T.DataType) -> str:
    """Render one value as a Spark-SQL literal of exactly ``dt``."""
    if v is None:
        return f"CAST(NULL AS {dt.simpleString()})"
    if isinstance(dt, T.ArrayType):
        inner = ", ".join(_sql_lit(x, dt.elementType) for x in v)
        return f"CAST(ARRAY({inner}) AS {dt.simpleString()})"
    if isinstance(dt, T.StringType):
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    if isinstance(dt, T.BooleanType):
        return f"CAST({'TRUE' if v else 'FALSE'} AS BOOLEAN)"
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        f = float(v)
        if isinstance(dt, T.FloatType) and not (math.isnan(f) or math.isinf(f)):
            # pre-round to the float32 the column will hold (ADVICE r15
            # #5): rendering the DOUBLE repr and casting decimal→float32
            # can double-round differently from createDataFrame's
            # double→float32 truncation on rare boundary values; the
            # pack round-trip makes the rendered literal bit-exact
            import struct

            f = struct.unpack("f", struct.pack("f", f))[0]
        if math.isnan(f):
            return f"CAST('NaN' AS {dt.simpleString()})"
        if math.isinf(f):
            sign = "-" if f < 0 else ""
            return f"CAST('{sign}Infinity' AS {dt.simpleString()})"
        return f"CAST({f!r} AS {dt.simpleString()})"
    return f"CAST({int(v)} AS {dt.simpleString()})"


def literal_df(
    spark: SparkSession,
    rows: Iterable[Sequence],
    ddl: str | T.StructType,
) -> DataFrame:
    """A DataFrame of driver-known literal rows as ONE JVM expression —
    the drop-in replacement for ``spark.createDataFrame(rows, ddl)`` on
    small bounded row sets (module docstring has the measured why).

    Plan shape: ``Range(1) → Generate(inline(array(named_structs…)))``
    — no RDD, no Python, codegen end to end, parsed in one py4j call.
    Row count and per-row width are bounded by the caller (fixtures,
    rule slices, centers): tens to a few hundred rows is the intended
    regime; data-scaled inputs belong in parquet.
    """
    schema = (
        T.StructType.fromDDL(ddl) if isinstance(ddl, str) else ddl
    )
    rows = list(rows)
    if not rows or not all(_supported(f.dataType) for f in schema.fields):
        return spark.createDataFrame(rows, schema)
    structs = []
    for row in rows:
        if len(row) != len(schema.fields):
            raise ValueError(
                f"literal_df: row width {len(row)} != schema width "
                f"{len(schema.fields)}"
            )
        kv = ", ".join(
            # field names through the same escaper as string values
            # (ADVICE r15 #2: a quote-bearing name must not break or
            # inject into the parsed expression)
            f"{_sql_lit(f.name, T.StringType())}, {_sql_lit(v, f.dataType)}"
            for v, f in zip(row, schema.fields)
        )
        structs.append(f"named_struct({kv})")
    return spark.range(1).select(
        F.expr(f"inline(array({', '.join(structs)}))")
    )
