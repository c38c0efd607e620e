"""Fixture catalog: table loading + shared column helpers.

Tables (TESTDATA.md / FIXTURES.md): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file each under
the scale-factor directory. All reads stay fully declarative so Catalyst
gets predicate pushdown + column pruning for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# Inferred parquet schema per file path. Schema inference reads the file
# footer through the JVM (~80 ms per call vs ~15 ms with the schema handed
# to the reader — measured r10); a 6-table join paid it six times per query
# construction. Metadata only — every query still scans the parquet data.
_SCHEMA_CACHE: dict = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Plain parquet scan — pushdown/pruning happen
    at the source when callers .select()/.where() on the result."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = table_path(sf_dir, name)
    cached = _SCHEMA_CACHE.get(path)
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        try:
            df = spark.read.parquet(path)
        except Exception as e:  # pragma: no cover - only ns-precision fixtures
            if name == "events" and "PARQUET_TYPE_ILLEGAL" in str(e):
                # ns-precision events.parquet: Spark 4 hard-rejects
                # TIMESTAMP(NANOS) unless nanosAsLong surfaces it as raw int64.
                # Runtime-settable, so this works on any caller-supplied session.
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                df = spark.read.parquet(path)
            else:
                raise
        _SCHEMA_CACHE[path] = df.schema
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns fixture surfaced as int64 ns → convert to µs TIMESTAMP_NTZ
        # (floor, matching DuckDB's ns→µs CAST truncation). Integral `div`,
        # NOT `/`: float division of 1.7e18 ns exceeds double's 53-bit
        # mantissa. timestamp_add on an NTZ epoch literal is zone-pure, so
        # no session-timeZone mutation is needed (timestamp_micros +
        # cast('timestamp_ntz') would round-trip through the session zone).
        df = df.withColumn(
            "ts",
            F.timestamp_add(
                "MICROSECOND",
                F.expr("ts div 1000"),
                F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'"),
            ),
        )
    # µs fixtures land as TIMESTAMP_NTZ already — pass through untouched.
    # NTZ (naive wall-clock) is the canonical ts type engine-wide: it is
    # exactly DuckDB's TIMESTAMP semantics, so results collect identically
    # regardless of the driver session's time zone. Epoch math on NTZ goes
    # through epoch_us() below, never a bare session-TZ-dependent cast.
    return df


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table from parquet FOOTER metadata —
    no Spark job, no data scan. The cheap replacement for a driver-side
    `df.count()` when an operator only needs N to size its blocking
    (same footer-stats source table_log's data skipping harvests)."""
    import os

    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
            for d, _sub, names in os.walk(path)
            for n in names
            if n.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


# ---- determinism helpers (SURVEY.md §5.4) -----------------------------------
# Floats: Spark and DuckDB sum in different orders → ulp drift. Every derived
# double that feeds the oracle hash is rounded to 4 decimals on BOTH sides.


def r4(c: Column) -> Column:
    """Round a double expression to 4 decimals (hash-stable float policy).
    + 0.0 canonicalizes IEEE -0.0 to +0.0, twin of oracle.sql_r4."""
    return F.round(c.cast("double"), 4) + F.lit(0.0)


# Money sums: one SQL-text core (msum_sql) and its Column wrapper (msum).
_MSUM_SPLIT = 3_000_000
_MSUM_SCALE = {8: "0.00000001", 4: "0.0001"}
_MSUM_OUT = {
    "r4": "CAST(CAST({} AS DECIMAL(38,4)) AS DOUBLE)",
    "double": "CAST({} AS DOUBLE)",
    "decimal": "CAST({} AS DECIMAL(38,8))",
}


def _mantissa_sql(expr: str, dp: int) -> str:
    # round(expr·10^dp) half-away-from-zero as a long; 0.5D keeps the nudge a DOUBLE
    return f"CAST(({expr}) * 1e{dp} + IF(({expr}) >= 0, 0.5D, -0.5D) AS BIGINT)"


def msum_parts_sql(expr: str, dp: int = 8) -> tuple[str, str]:
    """Per-row ``(hi, lo)`` long texts of expr's dp-digit mantissa m, with
    m = hi·3e6 + lo. For keys that carry the two partial sums across a
    shuffle or a join; finish them with ``msum_finish_sql``."""
    m = _mantissa_sql(expr, dp)
    lo = f"({m} % {_MSUM_SPLIT})"
    # (m - lo) is an exact multiple of the split ≤ 2^53: the division is exact
    return f"CAST(({m} - {lo}) / {_MSUM_SPLIT} AS BIGINT)", lo


def msum_finish_sql(
    hi_sum: str, lo_sum: str, *, out: str = "r4", dp: int = 8, minus: str | None = None
) -> str:
    """The exact value Σm·10^-dp from the summed ``hi``/``lo`` texts, cast
    to ``out``. ``minus`` is a row expression whose mantissa is taken off
    Σm first: the leave-one-out numerator Σm − m_row."""
    total = (
        f"(CAST({hi_sum} AS DECIMAL(19,0)) * CAST({_MSUM_SPLIT} AS DECIMAL(7,0))"
        f" + CAST({lo_sum} AS DECIMAL(19,0)))"
    )
    if minus is not None:
        total = f"({total} - {_mantissa_sql(minus, dp)})"
    return _MSUM_OUT[out].format(
        f"{total} * CAST({_MSUM_SCALE[dp]} AS DECIMAL({dp},{dp}))"
    )


def msum_sql(expr: str, *, out: str = "r4", dp: int = 8, over: str | None = None) -> str:
    """Spark-SQL text of an exact money sum of ``expr`` — the one
    implementation behind every Spark-side exact sum (``msum`` wraps it
    as a Column; ``oracle.sql_msum`` is the DuckDB twin).

    ``out`` picks the result, each bit-identical to a decimal form:
    - ``"r4"``: ``CAST(ROUND(SUM(CAST(expr AS DECIMAL(30,8))), 4) AS DOUBLE)``;
    - ``"double"``: ``CAST(SUM(CAST(expr AS DECIMAL(30,8))) AS DOUBLE)``;
    - ``"decimal"``: ``SUM(CAST(expr AS DECIMAL(30,8)))``, value and
      DECIMAL(38,8) type, for sums that stay decimal downstream.
    ``dp`` is the mantissa grid (8, or 4 for large 4dp-exact inputs);
    ``over`` is a window spec (the text inside ``OVER (...)``). The
    generator adds no single quote to ``expr`` and ``over``, so the text
    can sit inside a quoted SQL literal (EXECUTE IMMEDIATE).

    Input contract: values are ≤6dp-exact at ``dp=8`` and ≤4dp-exact at
    ``dp=4`` (fixture measures are ≤2dp and their products ≤6dp-exact;
    arbitrary doubles are r4-rounded first), with |expr·10^dp| < 2e15 —
    |value| < 2e7 at dp=8, |value| < 2e11 at dp=4.

    Why it is exact:
    - Per row, m = round(expr·10^dp) half-away-from-zero on the binary
      double equals the unscaled value of CAST(expr AS DECIMAL(30,8)) at
      that grid. The true scaled value is an integer, half a unit from
      the nearest tie; the double input and the product each carry at
      most |expr·10^dp|·2^-53 units of error, under 0.45 units in total
      below 2e15. Past the budget this fails: near |value| = 1e9 at dp=8
      the product's ulp is 16 units.
    - m is split by truncating division into hi = m DIV 3e6 and
      lo = m % 3e6, so SUM(hi) and SUM(lo) are two long sums that rebuild
      Σm exactly in any aggregation order — the order independence the
      decimal sum gave.
    - Overflow budget: |m| < 2e15 gives |hi| < 6.7e8 and |lo| < 3e6, so
      neither long sum can overflow below 1.3e10 rows per group. At money
      magnitudes (|value| ≤ 1.3e5, |hi| ≤ 4.4e6) that is 2e12 rows, past
      100 TB of lineitem (~6e11 rows).
    - The finish runs once per group (or window row) in decimal with no
      precision loss: Σm as DECIMAL(28,0), times 10^-dp as DECIMAL(dp,dp)
      is exact (≤ 38 digits), then one HALF_UP cast to DECIMAL(38,4) for
      ``r4`` and one correctly rounded cast to double.
    The decimal form pays a Double.toString + BigDecimal parse per row; the
    long sums stay in whole-stage codegen arithmetic.
    """
    window = f" OVER ({over})" if over is not None else ""
    hi, lo = msum_parts_sql(expr, dp)
    return msum_finish_sql(f"SUM({hi}){window}", f"SUM({lo}){window}", out=out, dp=dp)


def msum(expr: str, *, out: str = "r4", dp: int = 8, over: str | None = None) -> Column:
    """Column form of ``msum_sql`` — one parse, one py4j round trip."""
    return F.expr(msum_sql(expr, out=out, dp=dp, over=over))


def as_date(c: Column) -> Column:
    """Fixture dates are midnight ms-timestamps; compare as DATE everywhere."""
    return c.cast("date")


_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"

_TRUNC_US = {
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
}


def epoch_us(c: Column | str) -> Column:
    """Microseconds since epoch of a naive (TIMESTAMP_NTZ) wall clock,
    read as UTC — independent of the session time zone.

    ``unix_micros`` rejects NTZ, and every cast/shim that goes through LTZ
    (``cast('timestamp')``, ``to_utc_timestamp``) first reinterprets the
    wall clock in the *session* zone — wrong on a driver session pinned to
    anything but UTC (verified empirically). Field extraction on NTZ is
    wall-clock-pure, so the epoch is assembled arithmetically:
    days-since-epoch · 86400e6 + h·3600e6 + m·60e6 + fractional-seconds·1e6.
    This equals DuckDB's ``EPOCH_US(ts)`` on a naive timestamp exactly.
    """
    col = F.col(c) if isinstance(c, str) else c
    day = F.datediff(col.cast("date"), F.to_date(F.lit("1970-01-01"))).cast("bigint")
    sec_us = (F.date_part(F.lit("SECOND"), col) * 1_000_000).cast("bigint")
    return (
        day * 86_400_000_000
        + F.hour(col).cast("bigint") * 3_600_000_000
        + F.minute(col).cast("bigint") * 60_000_000
        + sec_us
    )


def ntz_trunc(unit: str, c: Column | str) -> Column:
    """date_trunc twin that stays TIMESTAMP_NTZ. Spark's ``date_trunc``
    implicitly casts NTZ input through the session zone (LTZ) and back —
    shifting the wall clock off-UTC sessions; flooring the arithmetic epoch
    instead is zone-pure and matches DuckDB's naive DATE_TRUNC exactly."""
    us = _TRUNC_US[unit]
    e = epoch_us(c)
    return F.timestamp_add("MICROSECOND", e - (e % us), F.expr(_EPOCH_NTZ))
