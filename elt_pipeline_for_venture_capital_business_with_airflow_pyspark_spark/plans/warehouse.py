"""VC star-schema table builders (SURVEY.md §2.3/§2.6, §7.1 step 6).

Pure functions ``DataFrame → DataFrame`` — no I/O, no session state —
reproducing the reference transforms' semantics exactly
(reference: dags/vcapital_warehouse/tasks/components/extract_transform.py):

- inner join to a dim = FK filter, orphan facts silently dropped
  (SURVEY.md §1.4);
- left join to dim_date = facts with out-of-span dates keep NULL date
  attributes;
- surrogate keys: the reference delegates to Postgres BIGSERIAL on
  append; here they're assigned by ``operators.surrogate`` in
  deterministic mode (dense row_number over the natural key).

Scale posture: dims are broadcast (they are dimension-sized by
definition); facts never shuffle except for their own joins; all
cleansing is expression-only.

Also completes the two tables the reference declared but never built
(``dim_people``, ``bridge_company_people`` — SURVEY.md §2.9.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import expr as E
from ..operators.surrogate import add_surrogate_key
from . import dim_date as DDATE


def dim_company_rows(company: DataFrame) -> DataFrame:
    """dim_company without its surrogate key (reference
    extract_transform.py:60-130)."""
    df = (
        company.withColumn("entity_type", E.entity_type("object_id"))
        .withColumn("address1_cleaned", E.clean_address("address1"))
        .withColumn("address2_cleaned", E.clean_address("address2"))
        .withColumn("full_address", E.concat_address("address1_cleaned", "address2_cleaned"))
        .withColumn("region", E.normalize_lower("region"))
        .withColumn("city", E.normalize_lower("city"))
        .withColumn("country_code", E.normalize_upper("country_code"))
    )
    return df.select(
        F.col("object_id").alias("nk_company_id"),
        "entity_type",
        "full_address",
        "region",
        "city",
        "country_code",
    )


def build_dim_company(company: DataFrame, offset: int = 0) -> DataFrame:
    """dim_company: :func:`dim_company_rows` keyed by natural key from
    ``offset + 1``."""
    return add_surrogate_key(dim_company_rows(company), "sk_company_id", ["nk_company_id"], offset)


def dim_funds_rows(funds: DataFrame) -> DataFrame:
    """dim_funds without its surrogate key (reference
    extract_transform.py:146-220). The reference's left join to
    dim_date is vestigial (no date columns are selected — quirk
    §2.9.2), so it is skipped (same output, one less join)."""
    df = (
        funds.withColumn("name", F.trim(F.lower(F.col("name"))))
        .withColumn("source_description", F.trim(F.lower(F.col("source_description"))))
        .withColumn("raised_amount_usd", E.to_usd("raised_currency_code", "raised_amount"))
        .withColumn("funded_date_id", E.date_key("funded_at"))
        .withColumn(
            "source_description",
            F.when(F.trim(F.col("source_description")) == "", None).otherwise(
                F.col("source_description")
            ),
        )
    )
    return df.select(
        F.col("object_id").alias("nk_fund_id"),
        F.col("name").alias("fund_name"),
        F.col("raised_amount_usd"),
        F.col("funded_date_id").alias("funded_at"),
        F.col("source_description").alias("fund_description"),
    )


def build_dim_funds(funds: DataFrame, dim_date: DataFrame, offset: int = 0) -> DataFrame:
    """dim_funds: :func:`dim_funds_rows` keyed by natural key from
    ``offset + 1``. ``dim_date`` is not read (see
    :func:`dim_funds_rows`)."""
    return add_surrogate_key(dim_funds_rows(funds), "sk_fund_id", ["nk_fund_id"], offset)


def dim_people_rows(people: DataFrame) -> DataFrame:
    """dim_people without its surrogate key — declared in
    init_dwh.sql:43-50, never built by the reference. full_name =
    null-aware 'first last' concat."""
    full_name = F.when(
        F.col("first_name").isNull() & F.col("last_name").isNull(), F.lit(None)
    ).otherwise(F.trim(F.concat_ws(" ", F.col("first_name"), F.col("last_name"))))
    return people.select(
        F.col("object_id").alias("nk_people_id"),
        full_name.alias("full_name"),
        F.col("affiliation_name"),
    )


def build_dim_people(people: DataFrame) -> DataFrame:
    """dim_people: :func:`dim_people_rows` keyed 1..N by natural key."""
    return add_surrogate_key(dim_people_rows(people), "sk_people_id", ["nk_people_id"])


def build_fct_investments(
    investments: DataFrame,
    funding_rounds: DataFrame,
    dim_company: DataFrame,
    dim_funds: DataFrame,
    dim_date: DataFrame,
) -> DataFrame:
    """fct_investments (reference extract_transform.py:246-329).

    Join shapes preserved exactly: inner to dim_company (J2, orphans
    drop), inner to dim_funds (J3, non-fund investors drop),
    funding_rounds inner to dim_date on the int key (J4, out-of-span
    rounds drop — a predicate on the spine's own span,
    ``dim_date.in_span``, so ``dim_date`` itself is not read), then left
    join the round payload on the named key (J5) — investments without
    a surviving round keep NULL payload. The fact's ``funded_at`` comes
    from funding_rounds (quirk §2.9.2).
    """
    df = investments.join(
        F.broadcast(dim_company.select("sk_company_id", "nk_company_id")),
        investments["funded_object_id"] == F.col("nk_company_id"),
        "inner",
    )
    df = df.join(
        F.broadcast(dim_funds.select("sk_fund_id", "nk_fund_id")),
        df["investor_object_id"] == F.col("nk_fund_id"),
        "inner",
    )
    fr = funding_rounds.filter(DDATE.in_span("funded_at")).withColumn(
        "funded_at", E.date_key("funded_at")
    )
    df = df.join(
        fr.select(
            "funding_round_id",
            "funding_round_type",
            "participants",
            "raised_amount_usd",
            "pre_money_valuation_usd",
            "post_money_valuation_usd",
            "funded_at",
        ),
        on="funding_round_id",
        how="left",
    )
    return df.select(
        F.col("investment_id").alias("dd_investment_id"),
        "sk_company_id",
        "sk_fund_id",
        "funded_at",
        "funding_round_type",
        F.col("participants").alias("num_of_participants"),
        "raised_amount_usd",
        "pre_money_valuation_usd",
        "post_money_valuation_usd",
    )


def build_fct_ipos(ipos: DataFrame, dim_company: DataFrame, dim_date: DataFrame) -> DataFrame:
    """fct_ipos (reference extract_transform.py:350-434). J6 inner to
    dim_company; the J7 left join to dim_date carries no selected
    columns → skipped (same output)."""
    df = ipos.withColumn("ipo_id", F.col("ipo_id").cast("integer"))
    df = df.join(
        F.broadcast(dim_company.select("sk_company_id", "nk_company_id")),
        df["object_id"] == F.col("nk_company_id"),
        "inner",
    )
    df = (
        df.withColumn("public_date_id", E.date_key("public_at"))
        .withColumn("valuation_amount_usd", E.to_usd("valuation_currency_code", "valuation_amount"))
        .withColumn("raised_amount_usd", E.to_usd("raised_currency_code", "raised_amount"))
    )
    cleaned_symbol = F.trim(F.lower(F.col("stock_symbol")))
    df = df.withColumn(
        "stock_symbol",
        F.when(cleaned_symbol.rlike(r"^[\W\d_]+$"), F.lit(None)).otherwise(cleaned_symbol),
    ).withColumn("source_description", F.trim(F.lower(F.col("source_description"))))
    return df.select(
        F.col("ipo_id").alias("dd_ipo_id"),
        "sk_company_id",
        "valuation_amount_usd",
        "raised_amount_usd",
        F.col("public_date_id").alias("public_at"),
        "stock_symbol",
        F.col("source_description").alias("ipo_description"),
    )


def build_fct_acquisition(
    acquisition: DataFrame, dim_company: DataFrame, dim_date: DataFrame
) -> DataFrame:
    """fct_acquisition (reference extract_transform.py:455-551): the
    same dim joined twice in two roles (J8/J9) via column-renamed
    selects; empty-string term/description → NULL (F8)."""
    acq_dim = dim_company.select(
        F.col("sk_company_id").alias("sk_acquiring_company_id"),
        F.col("nk_company_id").alias("nk_acquiring_company_id"),
    )
    acd_dim = dim_company.select(
        F.col("sk_company_id").alias("sk_acquired_company_id"),
        F.col("nk_company_id").alias("nk_acquired_company_id"),
    )
    df = acquisition.join(
        F.broadcast(acq_dim),
        acquisition["acquiring_object_id"] == F.col("nk_acquiring_company_id"),
        "inner",
    )
    df = df.join(
        F.broadcast(acd_dim),
        df["acquired_object_id"] == F.col("nk_acquired_company_id"),
        "inner",
    )
    df = df.withColumn("acquired_date_id", E.date_key("acquired_at")).withColumn(
        "price_amount_usd", E.to_usd("price_currency_code", "price_amount")
    )
    cleaned_term = F.trim(F.lower(F.col("term_code")))
    cleaned_desc = F.trim(F.lower(F.col("source_description")))
    df = df.withColumn(
        "term_code", F.when(cleaned_term == "", F.lit(None)).otherwise(cleaned_term)
    ).withColumn(
        "source_description",
        F.when(cleaned_desc == "", F.lit(None)).otherwise(cleaned_desc),
    )
    return df.select(
        F.col("acquisition_id").alias("dd_acquisition_id"),
        "sk_acquiring_company_id",
        "sk_acquired_company_id",
        "price_amount_usd",
        F.col("acquired_date_id").alias("acquired_at"),
        "term_code",
        F.col("source_description").alias("acquisition_description"),
    )


def bridge_company_people_rows(
    relationships: DataFrame,
    dim_people: DataFrame,
    dim_company: DataFrame,
) -> DataFrame:
    """bridge_company_people without its surrogate key — declared in
    init_dwh.sql:63-73, never built by the reference. Inner joins to
    both dims (FK-filter semantics, §1.4); the all-varchar staging
    columns (init_stg.sql:158-169) are typed here with try-casts:
    unparseable dates → NULL keys, is_past passes through as its raw
    string (DDL type is varchar(20)). The staging ``relationship_id``
    is kept as the degenerate dimension ``dd_relationship_id``, the
    row's natural key (a daily merge matches rows on it)."""
    df = relationships.join(
        F.broadcast(dim_people.select("sk_people_id", "nk_people_id")),
        relationships["person_object_id"] == F.col("nk_people_id"),
        "inner",
    )
    df = df.join(
        F.broadcast(dim_company.select("sk_company_id", "nk_company_id")),
        df["relationship_object_id"] == F.col("nk_company_id"),
        "inner",
    )
    return df.select(
        "sk_company_id",
        "sk_people_id",
        F.col("title"),
        F.col("is_past"),
        E.try_date_key("start_at").alias("relationship_start_at"),
        E.try_date_key("end_at").alias("relationship_end_at"),
        F.col("relationship_id").alias("dd_relationship_id"),
    )


def build_bridge_company_people(
    relationships: DataFrame,
    dim_people: DataFrame,
    dim_company: DataFrame,
) -> DataFrame:
    """bridge_company_people: :func:`bridge_company_people_rows` keyed
    1..N by ``dd_relationship_id``."""
    rows = bridge_company_people_rows(relationships, dim_people, dim_company)
    return add_surrogate_key(rows, "sk_company_people_id", ["dd_relationship_id"])
