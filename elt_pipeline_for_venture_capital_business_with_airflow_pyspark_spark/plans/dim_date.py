"""dim_date spine generator (SURVEY.md §2.6 F10, §7.1 step 3).

The reference seeds an 80-year date dimension inside Postgres
(reference: dataset/warehouse/init_dwh.sql:199-236): spine
``'1950-01-01' + 0..29219 days`` with 26 ``to_char``/EXTRACT derived
attributes. This module reproduces every column natively in Spark from
``spark.range`` — fully parallel, no database, and trivially
regenerable at any span.

Postgres-parity hard parts (SURVEY.md §7.2) handled explicitly:
- ``fmDDth`` day suffix → arithmetic when-chain (11/12/13 → th);
- ``'W'`` week-of-month → (day-1)/7+1 (NOT ISO week-in-month);
- ISO year for the ``IYYY-"W"IW`` label → year of (date + 4 - isodow)
  (Thursday rule), since Spark has no isoyear extract;
- ISODOW → Monday=1..Sunday=7 derived from Spark's Sunday=1 dayofweek.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH_START = "1950-01-01"
SPAN_DAYS = 29220  # 80 years, init_dwh.sql:233-235


def in_span(datum: str | F.Column) -> F.Column:
    """True for a date inside the spine ``EPOCH_START`` + 0..SPAN_DAYS-1
    (NULL for a NULL date): the rows an inner join on ``date_id`` keeps,
    without reading the table."""
    d = F.col(datum) if isinstance(datum, str) else datum
    start = F.lit(EPOCH_START).cast("date")
    return d.between(start, F.date_add(start, SPAN_DAYS - 1))


def isodow(datum: F.Column) -> F.Column:
    """Postgres EXTRACT(ISODOW): Monday=1 .. Sunday=7."""
    return ((F.dayofweek(datum) + 5) % 7) + 1


def day_suffix(datum: F.Column) -> F.Column:
    """Postgres TO_CHAR(d, 'fmDDth'): 1st, 2nd, 3rd, 4th … 11th/12th/13th th."""
    d = F.dayofmonth(datum)
    suffix = (
        F.when((d % 100).isin(11, 12, 13), "th")
        .when(d % 10 == 1, "st")
        .when(d % 10 == 2, "nd")
        .when(d % 10 == 3, "rd")
        .otherwise("th")
    )
    return F.concat(d.cast("string"), suffix)


def iso_year(datum: F.Column) -> F.Column:
    """Postgres EXTRACT(ISOYEAR): the year of the ISO week — equals the
    calendar year of the Thursday in the same ISO week."""
    return F.year(F.date_add(datum, 4 - isodow(datum)))


_DAY_NAMES = ("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")
_MONTH_NAMES = (
    "January", "February", "March", "April", "May", "June",
    "July", "August", "September", "October", "November", "December",
)


def day_name(datum: F.Column) -> F.Column:
    """English day name mapped from ISODOW — locale-independent (the
    JVM default locale must not leak into data, unlike raw
    ``date_format(d, 'EEEE')``)."""
    expr = F.lit(None).cast("string")
    dow = isodow(datum)
    for i, name in enumerate(_DAY_NAMES, start=1):
        expr = F.when(dow == i, name).otherwise(expr)
    return expr


def month_name(datum: F.Column, abbreviated: bool = False) -> F.Column:
    """English month name from the month number — locale-independent."""
    expr = F.lit(None).cast("string")
    m = F.month(datum)
    for i, name in enumerate(_MONTH_NAMES, start=1):
        expr = F.when(m == i, name[:3] if abbreviated else name).otherwise(expr)
    return expr


def build_dim_date(
    spark: SparkSession, start: str = EPOCH_START, days: int = SPAN_DAYS
) -> DataFrame:
    """The full 26-column dim_date, one row per day of the spine."""
    datum = F.date_add(F.lit(start).cast("date"), F.col("id").cast("int"))
    df = spark.range(0, days).select(datum.alias("date_actual"))
    d = F.col("date_actual")
    q = F.quarter(d)
    first_of_quarter = F.trunc(d, "quarter")
    return df.select(
        F.date_format(d, "yyyyMMdd").cast("int").alias("date_id"),
        d.alias("date_actual"),
        day_suffix(d).alias("day_suffix"),
        day_name(d).alias("day_name"),
        F.dayofyear(d).alias("day_of_year"),
        (((F.dayofmonth(d) - 1) / 7).cast("int") + 1).alias("week_of_month"),
        F.weekofyear(d).alias("week_of_year"),
        F.concat(
            iso_year(d).cast("string"),
            F.lit("-W"),
            F.lpad(F.weekofyear(d).cast("string"), 2, "0"),
        ).alias("week_of_year_iso"),
        F.month(d).alias("month_actual"),
        month_name(d).alias("month_name"),
        month_name(d, abbreviated=True).alias("month_name_abbreviated"),
        q.alias("quarter_actual"),
        F.when(q == 1, "First")
        .when(q == 2, "Second")
        .when(q == 3, "Third")
        .otherwise("Fourth")
        .alias("quarter_name"),
        F.year(d).alias("year_actual"),
        F.date_add(d, 1 - isodow(d)).alias("first_day_of_week"),
        F.date_add(d, 7 - isodow(d)).alias("last_day_of_week"),
        F.trunc(d, "mm").alias("first_day_of_month"),
        F.last_day(d).alias("last_day_of_month"),
        first_of_quarter.alias("first_day_of_quarter"),
        F.date_sub(F.add_months(first_of_quarter, 3), 1).alias("last_day_of_quarter"),
        F.trunc(d, "year").alias("first_day_of_year"),
        F.to_date(F.concat(F.year(d).cast("string"), F.lit("-12-31"))).alias(
            "last_day_of_year"
        ),
        F.date_format(d, "MMyyyy").alias("mmyyyy"),
        F.date_format(d, "MMddyyyy").alias("mmddyyyy"),
        F.when(isodow(d).isin(6, 7), "weekend").otherwise("weekday").alias("weekend_indr"),
    )
