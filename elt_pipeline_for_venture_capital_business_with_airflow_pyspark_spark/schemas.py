"""Central StructType registry (SURVEY.md §1.3).

The reference declares schemas externally in SQL DDL
(reference: dataset/warehouse/init_stg.sql:7-187,
dataset/warehouse/init_dwh.sql:3-114) and lets JDBC/pandas infer at
the seams. The engine is stricter: every reader takes an explicit
schema from this registry — no inference — so plans are deterministic
and parquet scans prune to exactly the declared columns.

Two families:
- ``TESTDATA``: the driver's TPC-H-ish star + events/documents/
  embeddings tables (TESTDATA.md).
- ``STAGING`` / ``WAREHOUSE``: the VC star schema mirroring the
  reference DDL (types per SURVEY.md §1.2 mapping).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Driver testdata (TESTDATA.md) — parquet files under /root/testdata/sf*/
# --------------------------------------------------------------------------

TESTDATA: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


# --------------------------------------------------------------------------
# VC staging schemas (reference: dataset/warehouse/init_stg.sql)
# Stringly-typed "dirty" columns stay StringType on purpose — ELT lands
# raw, types are applied in the transforms (SURVEY.md §1.3).
# --------------------------------------------------------------------------

def _struct(pairs: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in pairs])


_TS = T.TimestampType()
_STR = T.StringType()
_INT = T.IntegerType()
_DEC15_2 = T.DecimalType(15, 2)

STAGING: dict[str, T.StructType] = {
    # init_stg.sql:28-43
    "company": _struct(
        [
            ("office_id", _INT),
            ("object_id", _STR),
            ("description", _STR),
            ("region", _STR),
            ("address1", _STR),
            ("address2", _STR),
            ("city", _STR),
            ("zip_code", _STR),
            ("state_code", _STR),
            ("country_code", _STR),
            ("latitude", T.DecimalType(9, 6)),
            ("longitude", T.DecimalType(9, 6)),
            ("created_at", _TS),
            ("updated_at", _TS),
        ]
    ),
    # init_stg.sql:84-95
    "funds": _struct(
        [
            ("fund_id", _STR),
            ("object_id", _STR),
            ("name", _STR),
            ("funded_at", T.DateType()),
            ("raised_amount", _DEC15_2),
            ("raised_currency_code", _STR),
            ("source_url", _STR),
            ("source_description", _STR),
            ("created_at", _TS),
            ("updated_at", _TS),
        ]
    ),
    # init_stg.sql:52-75
    "funding_rounds": _struct(
        [
            ("funding_round_id", _INT),
            ("object_id", _STR),
            ("funded_at", T.DateType()),
            ("funding_round_type", _STR),
            ("funding_round_code", _STR),
            ("raised_amount_usd", _DEC15_2),
            ("raised_amount", _DEC15_2),
            ("raised_currency_code", _STR),
            ("pre_money_valuation_usd", _DEC15_2),
            ("pre_money_valuation", _DEC15_2),
            ("pre_money_currency_code", _STR),
            ("post_money_valuation_usd", _DEC15_2),
            ("post_money_valuation", _DEC15_2),
            ("post_money_currency_code", _STR),
            ("participants", _STR),
            ("is_first_round", T.BooleanType()),
            ("is_last_round", T.BooleanType()),
            ("created_by", _STR),
            ("created_at", _TS),
            ("updated_at", _TS),
        ]
    ),
    # init_stg.sql:104-111
    "investments": _struct(
        [
            ("investment_id", _INT),
            ("funding_round_id", _INT),
            ("funded_object_id", _STR),
            ("investor_object_id", _STR),
            ("created_at", _TS),
            ("updated_at", _TS),
        ]
    ),
    # init_stg.sql:120-133
    "ipos": _struct(
        [
            ("ipo_id", _STR),
            ("object_id", _STR),
            ("valuation_amount", _DEC15_2),
            ("valuation_currency_code", _STR),
            ("raised_amount", _DEC15_2),
            ("raised_currency_code", _STR),
            ("public_at", _TS),
            ("stock_symbol", _STR),
            ("source_url", _STR),
            ("source_description", _STR),
            ("created_at", _TS),
            ("updated_at", _TS),
        ]
    ),
    # init_stg.sql:7-19
    "acquisition": _struct(
        [
            ("acquisition_id", _INT),
            ("acquiring_object_id", _STR),
            ("acquired_object_id", _STR),
            ("term_code", _STR),
            ("price_amount", _DEC15_2),
            ("price_currency_code", _STR),
            ("acquired_at", _TS),
            ("source_url", _STR),
            ("source_description", _STR),
            ("created_at", _TS),
            ("updated_at", _TS),
        ]
    ),
    # init_stg.sql:141-150
    "people": _struct(
        [
            ("people_id", _STR),
            ("object_id", _STR),
            ("first_name", _STR),
            ("last_name", _STR),
            ("birthplace", _STR),
            ("affiliation_name", _STR),
        ]
    ),
    # init_stg.sql:158-169 — deliberately all-varchar (dirty zone)
    "relationships": _struct(
        [
            ("relationship_id", _STR),
            ("person_object_id", _STR),
            ("relationship_object_id", _STR),
            ("start_at", _STR),
            ("end_at", _STR),
            ("is_past", _STR),
            ("sequence", _STR),
            ("title", _STR),
            ("created_at", _STR),
            ("updated_at", _STR),
        ]
    ),
    # init_stg.sql:177-187
    "milestones": _struct(
        [
            ("milestone_id", _INT),
            ("object_id", _STR),
            ("milestone_at", _STR),
            ("milestone_code", _STR),
            ("description", _STR),
            ("source_description", _STR),
            ("source_url", _STR),
            ("created_at", _STR),
            ("updated_at", _STR),
        ]
    ),
}


# --------------------------------------------------------------------------
# VC warehouse schemas (reference: dataset/warehouse/init_dwh.sql:3-114).
# Surrogate keys are LongType (BIGSERIAL equivalent, assigned by the
# engine's surrogate-key operator, not a database sequence). The
# pipeline reads persisted warehouse tables with these schemas, so a
# read plans no schema-inference job;
# tests/test_pipeline.py::test_warehouse_schemas_pin_builder_output pins
# each one to its builder's output.
# --------------------------------------------------------------------------

_DATE = T.DateType()

WAREHOUSE: dict[str, T.StructType] = {
    # the 80-year spine (init_dwh.sql:199-236, plans/dim_date.py)
    "dim_date": _struct(
        [
            ("date_id", _INT),
            ("date_actual", _DATE),
            ("day_suffix", _STR),
            ("day_name", _STR),
            ("day_of_year", _INT),
            ("week_of_month", _INT),
            ("week_of_year", _INT),
            ("week_of_year_iso", _STR),
            ("month_actual", _INT),
            ("month_name", _STR),
            ("month_name_abbreviated", _STR),
            ("quarter_actual", _INT),
            ("quarter_name", _STR),
            ("year_actual", _INT),
            ("first_day_of_week", _DATE),
            ("last_day_of_week", _DATE),
            ("first_day_of_month", _DATE),
            ("last_day_of_month", _DATE),
            ("first_day_of_quarter", _DATE),
            ("last_day_of_quarter", _DATE),
            ("first_day_of_year", _DATE),
            ("last_day_of_year", _DATE),
            ("mmyyyy", _STR),
            ("mmddyyyy", _STR),
            ("weekend_indr", _STR),
        ]
    ),
    # builder output columns match the reference transforms exactly
    # (extract_transform.py:123-130, :214-220, :319-329, :426-434,
    # :543-551); *_usd amounts that pass through to_usd's CASE become
    # DoubleType (decimal×double literal → double), matching Spark's
    # type coercion in the reference.
    "dim_company": _struct(
        [
            ("sk_company_id", T.LongType()),
            ("nk_company_id", _STR),
            ("entity_type", _STR),
            ("full_address", _STR),
            ("region", _STR),
            ("city", _STR),
            ("country_code", _STR),
        ]
    ),
    "dim_funds": _struct(
        [
            ("sk_fund_id", T.LongType()),
            ("nk_fund_id", _STR),
            ("fund_name", _STR),
            ("raised_amount_usd", T.DoubleType()),
            ("funded_at", _INT),
            ("fund_description", _STR),
        ]
    ),
    # declared in DDL (init_dwh.sql:43-50) but never built by the
    # reference — completed here (SURVEY.md §2.9.6)
    "dim_people": _struct(
        [
            ("sk_people_id", T.LongType()),
            ("nk_people_id", _STR),
            ("full_name", _STR),
            ("affiliation_name", _STR),
        ]
    ),
    "fct_investments": _struct(
        [
            ("dd_investment_id", _INT),
            ("sk_company_id", T.LongType()),
            ("sk_fund_id", T.LongType()),
            ("funded_at", _INT),
            ("funding_round_type", _STR),
            ("num_of_participants", _STR),
            ("raised_amount_usd", _DEC15_2),
            ("pre_money_valuation_usd", _DEC15_2),
            ("post_money_valuation_usd", _DEC15_2),
        ]
    ),
    "fct_ipos": _struct(
        [
            ("dd_ipo_id", _INT),
            ("sk_company_id", T.LongType()),
            ("valuation_amount_usd", T.DoubleType()),
            ("raised_amount_usd", T.DoubleType()),
            ("public_at", _INT),
            ("stock_symbol", _STR),
            ("ipo_description", _STR),
        ]
    ),
    "fct_acquisition": _struct(
        [
            ("dd_acquisition_id", _INT),
            ("sk_acquiring_company_id", T.LongType()),
            ("sk_acquired_company_id", T.LongType()),
            ("price_amount_usd", T.DoubleType()),
            ("acquired_at", _INT),
            ("term_code", _STR),
            ("acquisition_description", _STR),
        ]
    ),
    # declared in DDL (init_dwh.sql:63-73) but never built — completed
    "bridge_company_people": _struct(
        [
            ("sk_company_people_id", T.LongType()),
            ("sk_company_id", T.LongType()),
            ("sk_people_id", T.LongType()),
            ("title", _STR),
            ("is_past", _STR),
            ("relationship_start_at", _INT),
            ("relationship_end_at", _INT),
            ("dd_relationship_id", _STR),
        ]
    ),
}

TESTDATA_TABLES = tuple(TESTDATA)
