# Shared registry substrate (round 10 split — VERDICT r9 #8):
# imports, determinism helpers, the registry dict and the @_register
# decorator, carried verbatim from the former 12k-line
# __spark_entry__.py. Family modules star-import this module, so
# every helper keeps the exact name the query bodies were written
# against.
"""Driver contract for the spark-graft builder (PySpark target).

Every operator from SURVEY.md §2 (plus the LLM-data-pipeline
extensions) is registered here as a named query over the driver
testdata, with a DuckDB-oracle ANSI-SQL twin where the semantics are
SQL-expressible. The registry below keeps each Spark callable and its
oracle side by side so parity is auditable per operator.

Determinism conventions (so value-hashes match across engines):
- double SUM/AVG go through exact decimal accumulation
  (``CAST(x AS DECIMAL(20,4))`` per row → SUM → ``CAST AS DOUBLE``);
- timestamps are emitted as unix microseconds (``unix_micros`` /
  ``epoch_us``);
- every ranking has a total-order tiebreak;
- currency conversion in the oracle surface uses the decimal-exact
  variant (HALF_UP decimal round is identical in both engines);
- day/month names are CASE maps, never locale-dependent formatting.
"""

from __future__ import annotations

import os as _os

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark import (
    schemas,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.functions import (
    expr as E,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.functions import (
    geo as GEO,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.functions import (
    text as TX,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    analytics as ANA,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    bpe as BPE,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    cdc as CDC,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    clustering as CL,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    dedup as DD,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    graph as GR,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    lm as LM,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    layout as LAY,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    linkage as LNK,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    sampling as SMP,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    expectations as EXP,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    features as FT,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    profile as PR,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    similarity as SIM,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    sketches as SKC,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    skew as SKW,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    surrogate as SK,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    rollup as RU,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    temporal as TMP,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    timeseries as TS,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
    dim_date as DDATE,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
    tpch_partsupp as PSUP,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import (
    read_table,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import (
    io as SIO,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.streaming import (
    incremental as INC,
)

_DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def _sf001_dir(sf_dir: str) -> str:
    """sf0.001 root for the driver's entry() smoke contract: the
    sibling directory of ``sf_dir`` (``$SPARK_GRAFT_SF_DIR``),
    as an absolute path. A relative or non-sibling ``sf_dir`` whose
    sibling does not exist falls back to the default root's sibling."""
    derived = _os.path.join(
        _os.path.dirname(_os.path.abspath(sf_dir.rstrip("/"))), "sf0.001"
    )
    if _os.path.isdir(derived):
        return derived
    return _os.path.join(_os.path.dirname(_DEFAULT_SF_DIR), "sf0.001")


SF001 = _sf001_dir(_os.environ.get("SPARK_GRAFT_SF_DIR", _DEFAULT_SF_DIR))


def _dsum(col: F.Column) -> F.Column:
    """Exact decimal accumulation of a double → deterministic double.

    Only safe on *raw* columns whose true values have ≤4 decimals (all
    testdata money/qty columns do): the double→decimal cast is then
    exact in both engines. Computed products must instead be built in
    decimal arithmetic (see ``_revenue``) — casting an arbitrary double
    to decimal rounds differently across engines.
    """
    return F.sum(col.cast("decimal(20,4)")).cast("double")


def _revenue_dec() -> F.Column:
    """l_extendedprice * (1 - l_discount) in exact decimal arithmetic."""
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(3,2)")
    return price * (F.lit(1) - disc)


_REVENUE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))"
)


# ---------------------------------------------------------------------------
# entry — flagship star query (smoke check at sf0.001)
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: fact ⋈ dim ⋈ dim ⋈ generated date-dim → group-agg
    (the fct_investments shape of SURVEY.md §7.1 step 4 on the
    TPC-H-ish star): revenue per (region, order-year, returnflag)."""
    li = read_table(spark, SF001, "lineitem")
    orders = read_table(spark, SF001, "orders")
    customer = read_table(spark, SF001, "customer")
    nation = read_table(spark, SF001, "nation")
    region = read_table(spark, SF001, "region")
    dim_date = DDATE.build_dim_date(spark)

    fact = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "inner")
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"], "inner")
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"], "inner")
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "inner")
        .withColumn("order_date_id", E.date_key("o_orderdate"))
        .join(
            F.broadcast(dim_date.select("date_id", "year_actual")),
            F.col("order_date_id") == F.col("date_id"),
            "left",
        )
    )
    return (
        fact.groupBy("r_name", "year_actual", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_revenue_dec()).cast("double").alias("revenue"),
        )
        .orderBy("r_name", "year_actual", "l_returnflag")
    )


# ---------------------------------------------------------------------------
# query registry: name -> (spark_fn, oracle_sql | None)
# ---------------------------------------------------------------------------

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def _register(name: str, sql: str | None):
    def deco(fn):
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


# --- profiling (A2-A7) -------------------------------------------------------

_ORDERS_COLS = [
    ("o_orderkey", "bigint", True),
    ("o_custkey", "bigint", True),
    ("o_orderstatus", "string", False),
    ("o_totalprice", "double", True),
    ("o_orderdate", "timestamp", False),
    ("o_orderpriority", "string", False),
]

_PROFILE_SQL = " UNION ALL ".join(
    f"""
    SELECT 'orders' AS table_name, '{c}' AS column_name, '{t}' AS data_type,
           COUNT(*) AS n_rows, COUNT({c}) AS n_not_null,
           ROUND(COUNT({c}) * CAST(100 AS DOUBLE) / COUNT(*), 2) AS pct_complete,
           CASE WHEN COUNT({c}) * CAST(100 AS DOUBLE) / COUNT(*) > 90 THEN 'Good' ELSE 'Bad' END AS quality,
           {f"CAST(SUM(CASE WHEN {c} < 0 THEN 1 ELSE 0 END) AS BIGINT)" if num else "CAST(NULL AS BIGINT)"} AS n_negative
    FROM orders
    """
    for c, t, num in _ORDERS_COLS
)


def _profile_catalog_sql() -> str:
    tables = {
        "nation": [("n_nationkey", "int", True), ("n_name", "string", False), ("n_regionkey", "int", True)],
        "region": [("r_regionkey", "int", True), ("r_name", "string", False)],
    }
    parts = []
    for t, cols in tables.items():
        for c, typ, num in cols:
            neg = (
                f"CAST(SUM(CASE WHEN {c} < 0 THEN 1 ELSE 0 END) AS BIGINT)"
                if num
                else "CAST(NULL AS BIGINT)"
            )
            parts.append(
                f"""
                SELECT '{t}' AS table_name, '{c}' AS column_name, '{typ}' AS data_type,
                       COUNT(*) AS n_rows, COUNT({c}) AS n_not_null,
                       ROUND(COUNT({c}) * CAST(100 AS DOUBLE) / COUNT(*), 2) AS pct_complete,
                       CASE WHEN COUNT({c}) * CAST(100 AS DOUBLE) / COUNT(*) > 90
                            THEN 'Good' ELSE 'Bad' END AS quality,
                       {neg} AS n_negative,
                       array_to_string(list_sort(list(DISTINCT CAST({c} AS VARCHAR)))[1:5], ',') AS sample
                FROM {t}
                """
            )
    return " UNION ALL ".join(parts)


def _profile_report_sql() -> str:
    """Mirror of Spark's ``to_json(array_sort(collect_list(struct)))``
    report: DuckDB assembles the identical JSON text by hand (field
    order matches the struct; null n_negative omitted, exactly like
    Spark's to_json default)."""
    per_col = " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name, '{t}' AS data_type,
               ROUND(COUNT({c}) * CAST(100 AS DOUBLE) / COUNT(*), 2) AS pct_complete,
               CASE WHEN COUNT({c}) * CAST(100 AS DOUBLE) / COUNT(*) > 90 THEN 'Good' ELSE 'Bad' END AS quality,
               {f"CAST(SUM(CASE WHEN {c} < 0 THEN 1 ELSE 0 END) AS BIGINT)" if num else "CAST(NULL AS BIGINT)"} AS n_negative
        FROM orders
        """
        for c, t, num in _ORDERS_COLS
    )
    return f"""
    WITH m AS ({per_col})
    SELECT 'orders' AS table_name,
           (SELECT COUNT(*) FROM orders) AS n_rows,
           COUNT(*) AS n_cols,
           '[' || string_agg(
             '{{"column_name":"' || column_name || '","data_type":"' || data_type
             || '","pct_complete":' || CAST(pct_complete AS VARCHAR)
             || ',"quality":"' || quality || '"'
             || CASE WHEN n_negative IS NULL THEN ''
                     ELSE ',"n_negative":' || CAST(n_negative AS VARCHAR) END
             || '}}', ',' ORDER BY column_name) || ']' AS data_profile
    FROM m
    """


_DAY_CASE = (
    "CASE isodow(datum) WHEN 1 THEN 'Monday' WHEN 2 THEN 'Tuesday' WHEN 3 THEN 'Wednesday'"
    " WHEN 4 THEN 'Thursday' WHEN 5 THEN 'Friday' WHEN 6 THEN 'Saturday' ELSE 'Sunday' END"
)
_MONTH_CASE = (
    "CASE month(datum) WHEN 1 THEN 'January' WHEN 2 THEN 'February' WHEN 3 THEN 'March'"
    " WHEN 4 THEN 'April' WHEN 5 THEN 'May' WHEN 6 THEN 'June' WHEN 7 THEN 'July'"
    " WHEN 8 THEN 'August' WHEN 9 THEN 'September' WHEN 10 THEN 'October'"
    " WHEN 11 THEN 'November' ELSE 'December' END"
)


# --- text analysis (north star) ----------------------------------------------

_TOKENS_SQL = "CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END"
_SW_LIST = "[" + ",".join(f"'{s}'" for s in TX.STOPWORDS) + "]"


def _lang_sql() -> str:
    score_exprs = []
    for code in sorted(TX.LANG_MARKERS):
        lst = "[" + ",".join(f"'{m}'" for m in TX.LANG_MARKERS[code]) + "]"
        score_exprs.append(
            # COALESCE: NULL text has zero marker hits (not an
            # undefined CASE fall-through to the last language)
            f"CAST(COALESCE(len(list_filter(toks, x -> list_contains({lst}, x))), 0) AS INT) AS s_{code}"
        )
    scores = ", ".join(score_exprs)
    return f"""
    WITH tok AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ), sc AS (
      SELECT doc_id, {scores} FROM tok
    )
    SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM sc
    """


# Exact decimal power sums → identical double arithmetic in both
# engines: the only deterministic way to cross-check variance/corr
# (native stddev/corr accumulate doubles in engine-specific order).
# moment-sum determinism at any magnitude (extreme-values sweep):
# (a) multiplication operands are DECIMAL(19,2) so DuckDB's physical
#     multiply runs in INT128 — width-12/14 operands stay INT64 and
#     overflow at the top of the money domain;
# (b) each decimal sum is ROUNDed to cents BEFORE the double cast
#     (a no-op for the integral-qty / 2-decimal-money domain): the
#     rounded unscaled value stays under 2^53, where decimal→double
#     is exact in both engines — DuckDB converts via
#     unscaled/10^scale, which double-rounds above 2^53 and can land
#     1 ulp away from Spark's correctly-rounded BigDecimal path.
_STATS_SQL = """
WITH sums AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(20,4))), 2) AS DOUBLE) AS sq,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_quantity AS DECIMAL(19,2))), 2) AS DOUBLE) AS sq2,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(20,4))), 2) AS DOUBLE) AS sp,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(19,2)) * CAST(l_extendedprice AS DECIMAL(19,2))), 2) AS DOUBLE) AS sp2,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_extendedprice AS DECIMAL(19,2))), 2) AS DOUBLE) AS sqp
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND(sq / n, 6) AS mean_qty,
       ROUND(sqrt((sq2 - sq * sq / n) / (n - 1)), 6) AS stddev_qty,
       ROUND((sqp - sq * sp / n) / (n - 1), 4) AS covar_qty_price,
       ROUND((n * sqp - sq * sp) / (sqrt(n * sq2 - sq * sq) * sqrt(n * sp2 - sp * sp)), 6) AS corr_qty_price
FROM sums
"""


def _minhash_poly_sql(
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    extra_pred: str = "",
) -> str:
    """ANSI-SQL re-implementation of the ENTIRE polynomial MinHash-LSH
    pipeline (grams → affine-family signature → banding → est-Jaccard)
    with the same (a, b) literals the Spark plan embeds — the full
    near-dup path, hash-checked end to end."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.dedup import (
        _universal_hash_params,
    )

    params = _universal_hash_params(num_hashes)
    r = num_hashes // bands
    sig_terms = ",\n             ".join(
        f"list_min(list_transform(hs, x -> (CAST(x AS BIGINT)*{a}+{b}) % 2147483647))"
        for a, b in params
    )
    return f"""
    WITH n AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(generate_series(1, length(s) - 2),
                            i -> ascii(s[i]) + ascii(s[i+1])*31 + ascii(s[i+2])*961) AS hs
      FROM n WHERE length(s) >= 3
    ), sig AS (
      SELECT doc_id, [{sig_terms}] AS sig
      FROM g
    ), be AS (
      SELECT doc_id, unnest(generate_series(0, {bands - 1})) AS band, sig FROM sig
    ), bb AS (
      SELECT doc_id, band, CAST(sig[{r}*band+1 : {r}*band+{r}] AS VARCHAR) AS bucket, sig FROM be
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           list_sum(list_transform(generate_series(1, {num_hashes}),
               i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / {num_hashes}.0
             AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
    WHERE list_sum(list_transform(generate_series(1, {num_hashes}),
               i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / {num_hashes}.0
          >= {threshold}
          {extra_pred}
    """


def _minhash_grouped_parts(
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> "tuple[str, str]":
    """(cte_definitions, edge_select) for the star-form grouped LSH
    restatement — split so composed oracles (dedup_survivors' closure)
    can lift the CTEs to their own top-level WITH instead of nesting
    a WITH inside a CTE body."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.dedup import (
        _universal_hash_params,
    )

    params = _universal_hash_params(num_hashes)
    r = num_hashes // bands
    sig_terms = ",\n             ".join(
        f"list_min(list_transform(hs, x -> (CAST(x AS BIGINT)*{a}+{b}) % 2147483647))"
        for a, b in params
    )
    ctes = f"""n AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(generate_series(1, length(s) - 2),
                            i -> ascii(s[i]) + ascii(s[i+1])*31 + ascii(s[i+2])*961) AS hs
      FROM n WHERE length(s) >= 3
    ), sigt AS (
      SELECT doc_id, [{sig_terms}] AS sig
      FROM g
    ), grp AS (
      SELECT sig, MIN(doc_id) AS rep_id FROM sigt GROUP BY sig
    ), mem AS (
      SELECT s.doc_id, gr.rep_id
      FROM sigt s JOIN grp gr ON s.sig = gr.sig
      WHERE s.doc_id IS NOT NULL
    ), reps AS (
      SELECT rep_id AS doc_id, sig FROM grp WHERE rep_id IS NOT NULL
    ), be AS (
      SELECT doc_id, unnest(generate_series(0, {bands - 1})) AS band, sig FROM reps
    ), bb AS (
      SELECT doc_id, band, CAST(sig[{r}*band+1 : {r}*band+{r}] AS VARCHAR) AS bucket, sig FROM be
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id
    )"""
    select = f"""
    SELECT rep_id AS id_a, doc_id AS id_b,
           CAST(1.0 AS DOUBLE) AS est_jaccard, 'member' AS kind
    FROM mem WHERE doc_id <> rep_id
    UNION ALL
    SELECT c.id_a, c.id_b,
           list_sum(list_transform(generate_series(1, {num_hashes}),
               i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / {num_hashes}.0
             AS est_jaccard,
           'lsh' AS kind
    FROM cand c
    JOIN sigt sa ON sa.doc_id = c.id_a
    JOIN sigt sb ON sb.doc_id = c.id_b
    WHERE list_sum(list_transform(generate_series(1, {num_hashes}),
               i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / {num_hashes}.0
          >= {threshold}
    """
    return ctes, select


def _minhash_grouped_sql(
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> str:
    """ANSI-SQL restatement of the STAR-FORM grouped LSH contract
    (``banded_pairs_star``): identical signatures collapse to their
    min-id representative (member edges, est exactly 1.0), then the
    banded join runs over distinct signatures only (lsh edges). The
    SQL groups on the full signature LIST — the same
    no-hash-collision rule the Spark side follows."""
    ctes, select = _minhash_grouped_parts(num_hashes, bands, threshold)
    return f"""
    WITH {ctes}{select}"""


def _poly_sig_corpus_sql(num_hashes: int = 64) -> str:
    """ANSI-SQL twin of the persisted poly-signature table for the
    corpus slice (doc_id % 5 != 0) — same (a, b) literals, signatures
    serialized to a comma string for canonicalizer-safe comparison."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.dedup import (
        _universal_hash_params,
    )

    params = _universal_hash_params(num_hashes)
    sig_terms = ",\n             ".join(
        f"list_min(list_transform(hs, x -> (CAST(x AS BIGINT)*{a}+{b}) % 2147483647))"
        for a, b in params
    )
    return f"""
    WITH n AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
      FROM documents WHERE doc_id % 5 <> 0
    ), g AS (
      SELECT doc_id,
             list_transform(generate_series(1, length(s) - 2),
                            i -> ascii(s[i]) + ascii(s[i+1])*31 + ascii(s[i+2])*961) AS hs
      FROM n WHERE length(s) >= 3
    )
    SELECT doc_id, array_to_string([{sig_terms}], ',') AS sig_str
    FROM g
    """


def _lm_backoff_parts(
    train_pred: str = "doc_id % 5 != 0",
    score_pred: str = "doc_id % 5 = 0",
) -> "tuple[str, str]":
    """(cte_definitions, per_doc_select) for the trigram
    stupid-backoff LM restatement (operators/lm.py) — split like
    ``_minhash_grouped_parts`` so composed oracles (the perplexity
    percentile gate) can lift the CTEs into their own WITH. Every
    literal (fixed point 2**30, mantissa 256, alpha 2/5 folded as
    2/5 and 4/25) mirrors the operator module's constants; all
    arithmetic is BIGINT-exact, the only doubles are the final
    bits/token expression. Default predicates are the daily-cadence
    split: train on the corpus (doc_id % 5 != 0), score the held-out
    shard — so trigram/bigram backoff and the OOV floor (m = 1,
    level 0) all genuinely fire."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.lm import (
        FP_BITS,
        MANT,
    )

    fp = 1 << FP_BITS
    qexpr = (
        f"(length(bin(m)) - 1) * {MANT} "
        f"+ (m * {MANT}) // (CAST(1 AS BIGINT) << (length(bin(m)) - 1)) "
        f"- {MANT}"
    )
    tok_expr = (
        "list_filter(string_split(regexp_replace(lower(text), "
        "'[^a-z0-9 ]', ' ', 'g'), ' '), t -> t <> '')"
    )
    ctes = f"""lmtok_train AS (
      SELECT {tok_expr} AS ts FROM documents WHERE {train_pred}
    ), lmtok_score AS (
      SELECT doc_id, {tok_expr} AS ts FROM documents WHERE {score_pred}
    ), lmuni AS (
      SELECT w, COUNT(*) AS cu
      FROM (SELECT unnest(ts) AS w FROM lmtok_train) GROUP BY 1
    ), lmtot AS (SELECT SUM(cu) AS t FROM lmuni),
    lmbi AS (
      SELECT w1, w, COUNT(*) AS cb FROM (
        SELECT ts[i-1] AS w1, ts[i] AS w
        FROM (SELECT ts, unnest(generate_series(2, len(ts))) AS i
              FROM lmtok_train)
      ) GROUP BY 1, 2
    ), lmtri AS (
      SELECT w2, w1, w, COUNT(*) AS ct FROM (
        SELECT ts[i-2] AS w2, ts[i-1] AS w1, ts[i] AS w
        FROM (SELECT ts, unnest(generate_series(3, len(ts))) AS i
              FROM lmtok_train)
      ) GROUP BY 1, 2, 3
    ), lmtri_pos AS (
      SELECT doc_id, ts[i-2] AS w2, ts[i-1] AS w1, ts[i] AS w
      FROM (SELECT doc_id, ts,
                   unnest(generate_series(3, len(ts))) AS i FROM lmtok_score)
    ), lmtri_s AS (
      SELECT t.w2, t.w1, t.w,
             greatest((t.ct * {fp}) // b.cb, 1) AS m_tri
      FROM lmtri t JOIN lmbi b ON b.w1 = t.w2 AND b.w = t.w1
    ), lmbi_s AS (
      SELECT b.w1, b.w,
             greatest((2 * b.cb * {fp}) // (5 * u.cu), 1) AS m_bi
      FROM lmbi b JOIN lmuni u ON u.w = b.w1
    ), lmuni_s AS (
      SELECT u.w, greatest((4 * u.cu * {fp}) // (25 * lmtot.t), 1) AS m_uni
      FROM lmuni u, lmtot
    ), lmsc AS (
      SELECT p.doc_id,
             COALESCE(ts3.m_tri, bs.m_bi, us.m_uni, 1) AS m,
             CASE WHEN ts3.m_tri IS NOT NULL THEN 3
                  WHEN bs.m_bi IS NOT NULL THEN 2
                  WHEN us.m_uni IS NOT NULL THEN 1 ELSE 0 END AS level
      FROM lmtri_pos p
      LEFT JOIN lmtri_s ts3
        ON ts3.w2 = p.w2 AND ts3.w1 = p.w1 AND ts3.w = p.w
      LEFT JOIN lmbi_s bs ON bs.w1 = p.w1 AND bs.w = p.w
      LEFT JOIN lmuni_s us ON us.w = p.w
    ), lmq AS (
      SELECT doc_id, level, {qexpr} AS q FROM lmsc
    )"""
    per_doc_select = f"""
      SELECT doc_id,
             COUNT(*) AS n_scored,
             CAST(SUM(CASE WHEN level = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
             CAST(SUM(CASE WHEN level = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
             CAST(SUM(CASE WHEN level = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
             CAST(SUM(CASE WHEN level = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             CAST(SUM(q) AS BIGINT) AS qsum,
             {FP_BITS}.0 - CAST(SUM(q) AS DOUBLE)
                           / ({MANT}.0 * COUNT(*)) AS bits_per_token
      FROM lmq GROUP BY doc_id
    """
    return ctes, per_doc_select


def _dataset_cache_path(kind: str, sf: str, table: str = "documents") -> str:
    """Cache root for a PERSISTED index derived from ``<sf>/<table>``,
    for registry entries that PROBE a pre-existing index instead of
    rebuilding per call (incremental-LSH probe, edges→survivors, the
    LM count index).

    Round-12 advice fix: the old paths were keyed only on the sf
    directory BASENAME and validated only ``_SUCCESS`` existence — if
    the dataset under the same sf name was regenerated, an ungated
    run would silently probe STALE state. The path now embeds a
    FINGERPRINT of the source parquet (relative file names + sizes +
    mtimes, order-independent): regenerating the dataset changes the
    fingerprint, so the probe sees "no index" and rebuilds — freshness
    is validated by construction, not by a flag file. The per-user
    subdirectory (uid in the path) removes the world-writable
    predictable-path collision between users sharing a tmpdir; same-
    user cross-process overwrites keep the last-writer-wins semantics
    the overwrite-mode builders already have."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(os.path.normpath(sf), f"{table}.parquet")
    parts: list[str] = []
    if os.path.isdir(src):
        for root, _dirs, files in os.walk(src):
            for fn in files:
                fp = os.path.join(root, fn)
                st = os.stat(fp)
                parts.append(
                    f"{os.path.relpath(fp, src)}:{st.st_size}:{st.st_mtime_ns}"
                )
    elif os.path.exists(src):
        st = os.stat(src)
        parts.append(f".:{st.st_size}:{st.st_mtime_ns}")
    fprint = hashlib.sha1("|".join(sorted(parts)).encode()).hexdigest()[:16]
    uid = os.getuid() if hasattr(os, "getuid") else 0
    return os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_u{uid}",
        f"{kind}_{os.path.basename(os.path.normpath(sf))}_{fprint}",
    )


def _incr_lsh_split_path(sf: str) -> str:
    return _dataset_cache_path("incr_lsh_split_v2", sf)


def _simhash_poly_sql(bits: int = 60) -> str:
    """ANSI-SQL twin of the polynomial SimHash: per-bit ±1 votes from
    the affine family, sign-packed into a long — same (a, b) literals,
    exact integer arithmetic throughout."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.dedup import (
        _universal_hash_params,
    )

    params = _universal_hash_params(bits, seed=4242)
    bit_terms = "\n           + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN "
        f"(CAST(x AS BIGINT)*{a}+{b}) % 2147483647 >= 1073741824 "
        f"THEN 1 ELSE -1 END)) >= 0 THEN 1 ELSE 0 END) * {1 << j}"
        for j, (a, b) in enumerate(params)
    )
    return f"""
    WITH n AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(generate_series(1, length(s) - 2),
                            i -> ascii(s[i]) + ascii(s[i+1])*31 + ascii(s[i+2])*961) AS hs
      FROM n WHERE length(s) >= 3
    )
    SELECT doc_id, CAST({bit_terms} AS BIGINT) AS fingerprint
    FROM g
    """


def _ivf_sqlcheck_sql(dim: int = 64, n_probe: int = 8, k: int = 10) -> str:
    """ANSI-SQL twin of the IVF ANN pipeline with id-ordered centroids.

    Float arithmetic is replicated EXACTLY: float→double casts widen
    losslessly, the dot product is an explicit left-associated 64-term
    sum (same fold order as the Spark ``aggregate``), and sqrt/division
    are single IEEE-754 ops — so even the cosine doubles hash-match.
    """

    def dot(a: str, b: str) -> str:
        return " + ".join(
            f"CAST({a}[{i}] AS DOUBLE)*CAST({b}[{i}] AS DOUBLE)"
            for i in range(1, dim + 1)
        )

    def cos(a: str, b: str) -> str:
        return f"(({dot(a, b)}) / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"

    return f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16
    ), assigned AS (
      SELECT e.vec_id AS neighbor_id, e.embedding AS nv, c.cid,
             {cos("e.embedding", "c.cv")} AS sim
      FROM embeddings e CROSS JOIN c
    ), acell AS (
      SELECT neighbor_id, nv, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY neighbor_id ORDER BY sim DESC, cid) AS rn
        FROM assigned) WHERE rn = 1
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
    ), qsim AS (
      SELECT query_id, qv, cid, {cos("qv", "cv")} AS sim
      FROM q CROSS JOIN c
    ), probes AS (
      SELECT query_id, qv, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY sim DESC, cid) AS rn
        FROM qsim) WHERE rn <= {n_probe}
    ), scored AS (
      SELECT p.query_id, a.neighbor_id, {cos("p.qv", "a.nv")} AS cosine_sim
      FROM probes p JOIN acell a ON p.cell = a.cell
      WHERE a.neighbor_id <> p.query_id
    )
    SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cosine_sim FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rn
      FROM scored) WHERE rn <= {k}
    """


def _ivf_int8_sql(dim: int = 64, n_probe: int = 8, k: int = 10) -> str:
    """ANSI-SQL twin of the int8-QUANTIZED persisted IVF probe: cell
    assignment/choice replicate the float geometry (same explicit
    fold-order cosine as _ivf_sqlcheck_sql), scoring replicates
    ann_topk_int8's exact-BIGINT integer dot + two fixed-order scale
    multiplies — so dots, scores and ranks all hash-match."""

    def dot(a: str, b: str) -> str:
        return " + ".join(
            f"CAST({a}[{i}] AS DOUBLE)*CAST({b}[{i}] AS DOUBLE)"
            for i in range(1, dim + 1)
        )

    def cos(a: str, b: str) -> str:
        return f"(({dot(a, b)}) / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"

    return f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16
    ), assigned AS (
      SELECT e.vec_id AS neighbor_id, e.embedding AS nv, c.cid,
             {cos("e.embedding", "c.cv")} AS sim
      FROM embeddings e CROSS JOIN c
    ), acell AS (
      SELECT neighbor_id, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY neighbor_id ORDER BY sim DESC, cid) AS rn
        FROM assigned) WHERE rn = 1
    ), xd AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
      FROM embeddings
    ), mx AS (
      SELECT vec_id, xd,
             list_reduce(list_prepend(0.0, list_transform(xd, v -> abs(v))),
                         (a, b) -> greatest(a, b)) AS maxabs
      FROM xd
    ), q8 AS (
      SELECT vec_id, maxabs / 127.0 AS scale,
             CASE WHEN maxabs = 0 THEN list_transform(xd, v -> 0)
                  ELSE list_transform(xd, v ->
                       CAST(floor(v / (maxabs / 127.0) + 0.5) AS INT))
             END AS q
      FROM mx
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < 5
    ), qsim AS (
      SELECT query_id, cid, {cos("qv", "cv")} AS sim
      FROM q CROSS JOIN c
    ), probes AS (
      SELECT query_id, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY sim DESC, cid) AS rn
        FROM qsim) WHERE rn <= {n_probe}
    ), scored AS (
      SELECT p.query_id, a.neighbor_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(list_zip(cc.q, qq.q),
                   z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT))),
               (x, y) -> x + y) AS dot_int,
             cc.scale AS sc, qq.scale AS sq
      FROM probes p
      JOIN acell a ON p.cell = a.cell
      JOIN q8 cc ON cc.vec_id = a.neighbor_id
      JOIN q8 qq ON qq.vec_id = p.query_id
      WHERE a.neighbor_id <> p.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, dot_int,
             dot_int * sc * sq AS score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot_int * sc * sq DESC, neighbor_id)
               AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, dot_int, score
    FROM ranked WHERE rank <= {k}
    """


def _pq_common_sql(dim: int = 64, m: int = 8, ks: int = 16) -> str:
    """Shared CTEs for the product-quantization twins: quantized
    vectors, j-indexed codebook (first ks vectors by id), and the
    per-(vector, subspace, codeword) exact integer subspace-L2 — the
    same floor(x·1e6) arithmetic as operators/similarity.pq_codes."""
    d_m = dim // m
    sub_d2 = " + ".join(
        f"(e.qv[s.s*{d_m}+{i}]-c.cv[s.s*{d_m}+{i}])"
        f"*(e.qv[s.s*{d_m}+{i}]-c.cv[s.s*{d_m}+{i}])"
        for i in range(1, d_m + 1)
    )
    return f"""
    q8 AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
      FROM embeddings
    ), cw AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, qv AS cv
      FROM q8 ORDER BY vec_id LIMIT {ks}
    ), subsp AS (
      SELECT unnest(range(0, {m})) AS s
    ), subd AS (
      SELECT e.vec_id, s.s, c.j, CAST({sub_d2} AS BIGINT) AS d2
      FROM q8 e CROSS JOIN subsp s CROSS JOIN cw c
    ), codes AS (
      SELECT vec_id, CAST(s AS INT) AS s, CAST(j AS INT) AS code FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id, s ORDER BY d2, j) AS rn
        FROM subd) WHERE rn = 1
    )"""


def _pq_codes_sql(dim: int = 64, m: int = 8, ks: int = 16) -> str:
    return f"""
    WITH {_pq_common_sql(dim, m, ks)}
    SELECT vec_id AS id, s, code FROM codes
    """


def _ivfpq_sqlcheck_sql(
    dim: int = 64,
    k: int = 10,
    m: int = 8,
    ks: int = 16,
    n_cells: int = 16,
    n_probe: int = 8,
) -> str:
    """ANSI-SQL twin of IVF-PQ: cell seeds = the first n_cells vectors
    by id, exact integer L2 assignment (ties to the lowest seed),
    n_probe nearest cells per query, ADC scoring = Σ_s dt[s][code_s]
    replicated as a join from the query's subspace distances onto each
    candidate's codes."""
    full_d2 = " + ".join(
        f"(e.qv[{i}]-sd.sv[{i}])*(e.qv[{i}]-sd.sv[{i}])" for i in range(1, dim + 1)
    )
    return f"""
    WITH {_pq_common_sql(dim, m, ks)},
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, qv AS sv
      FROM q8 ORDER BY vec_id LIMIT {n_cells}
    ), celld AS (
      SELECT e.vec_id, sd.c, CAST({full_d2} AS BIGINT) AS d2
      FROM q8 e CROSS JOIN seeds sd
    ), acell AS (
      SELECT vec_id AS neighbor_id, c AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2, c) AS rn
        FROM celld) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, c AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2, c) AS rn
        FROM celld WHERE vec_id < 5) WHERE rn <= {n_probe}
    ), scored AS (
      SELECT p.query_id, a.neighbor_id, CAST(SUM(d.d2) AS BIGINT) AS approx_d2
      FROM probes p
      JOIN acell a ON p.cell = a.cell
      JOIN codes cd ON cd.vec_id = a.neighbor_id
      JOIN subd d ON d.vec_id = p.query_id AND d.s = cd.s AND d.j = cd.code
      WHERE a.neighbor_id <> p.query_id
      GROUP BY p.query_id, a.neighbor_id
    )
    SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, approx_d2 FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY approx_d2, neighbor_id) AS rn
      FROM scored) WHERE rn <= {k}
    """


def _ann_lsh_sqlcheck_sql(
    dim: int = 64, num_planes: int = 16, bands: int = 8, k: int = 10, seed: int = 7
) -> str:
    """ANSI-SQL twin of hyperplane-LSH ANN: the plane matrix is a
    registration-time constant (seeded md5 → doubles, embedded as
    repr'd literals that round-trip to identical bits), so sign-bit
    buckets, band collisions and the cosine rerank are all replicated
    with the same explicit fold-order arithmetic as the IVF twin."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.similarity import (
        _plane_values,
    )

    bits = num_planes // bands

    def dot_plane(vec: str, p: int) -> str:
        vals = _plane_values(seed, p, dim)
        return " + ".join(
            f"CAST({vec}[{i}] AS DOUBLE)*{v!r}" for i, v in enumerate(vals, 1)
        )

    def bucket(vec: str, b: int) -> str:
        return " + ".join(
            f"(CASE WHEN ({dot_plane(vec, b * bits + j)}) > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(bits)
        )

    def dot(a: str, b: str) -> str:
        return " + ".join(
            f"CAST({a}[{i}] AS DOUBLE)*CAST({b}[{i}] AS DOUBLE)"
            for i in range(1, dim + 1)
        )

    def cos(a: str, b: str) -> str:
        return f"(({dot(a, b)}) / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"

    bcols = ",\n             ".join(
        f"({bucket('embedding', b)}) AS k{b}" for b in range(bands)
    )
    band_match = " OR ".join(f"q.k{b} = c.k{b}" for b in range(bands))
    return f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             {bcols}
      FROM embeddings
    ), qb AS (
      SELECT vec_id AS query_id, embedding AS qv, * EXCLUDE (vec_id, embedding)
      FROM sig WHERE vec_id < 5
    ), cb AS (
      SELECT vec_id AS neighbor_id, embedding AS nv, * EXCLUDE (vec_id, embedding)
      FROM sig
    ), cand AS (
      SELECT DISTINCT q.query_id, c.neighbor_id, q.qv, c.nv
      FROM qb q JOIN cb c ON ({band_match})
      WHERE c.neighbor_id <> q.query_id
    ), scored AS (
      SELECT query_id, neighbor_id, {cos("qv", "nv")} AS cosine_sim
      FROM cand
    )
    SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cosine_sim FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rn
      FROM scored) WHERE rn <= {k}
    """


def _near_dup_sqlcheck_sql(
    dim: int = 64,
    num_planes: int = 16,
    bands: int = 8,
    threshold: float = 0.4,
    seed: int = 7,
) -> str:
    """ANSI-SQL twin of the LSH-banded embedding near-dup pairs —
    same construction as _ann_lsh_sqlcheck_sql, self-join form."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators.similarity import (
        _plane_values,
    )

    bits = num_planes // bands

    def dot_plane(vec: str, p: int) -> str:
        vals = _plane_values(seed, p, dim)
        return " + ".join(
            f"CAST({vec}[{i}] AS DOUBLE)*{v!r}" for i, v in enumerate(vals, 1)
        )

    def bucket(vec: str, b: int) -> str:
        return " + ".join(
            f"(CASE WHEN ({dot_plane(vec, b * bits + j)}) > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(bits)
        )

    def dot(a: str, b: str) -> str:
        return " + ".join(
            f"CAST({a}[{i}] AS DOUBLE)*CAST({b}[{i}] AS DOUBLE)"
            for i in range(1, dim + 1)
        )

    cos = f"(({dot('va', 'vb')}) / (sqrt({dot('va', 'va')}) * sqrt({dot('vb', 'vb')})))"
    bcols = ",\n             ".join(
        f"({bucket('embedding', b)}) AS k{b}" for b in range(bands)
    )
    band_match = " OR ".join(f"a.k{b} = b.k{b}" for b in range(bands))
    return f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             {bcols}
      FROM embeddings
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS va, b.embedding AS vb
      FROM sig a JOIN sig b ON ({band_match})
      WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine_sim FROM (
      SELECT id_a, id_b, {cos} AS cosine_sim FROM cand
    ) WHERE cosine_sim >= {threshold}
    """


def _bitext_sql(dim: int = 64, k: int = 4, threshold: float = 1.0) -> str:
    """ANSI-SQL twin of margin-based bitext mining: brute-force cosine
    (explicit left-assoc fold, same as the IVF twin), per-side top-k
    by (sim DESC, id), k-NN averages folded in RANK order via
    list_reduce (matching the engine's sort_array + aggregate fold),
    ratio margin, best-per-src with the same tie-break."""

    def dot(a: str, b: str) -> str:
        return " + ".join(
            f"CAST({a}[{i}] AS DOUBLE)*CAST({b}[{i}] AS DOUBLE)"
            for i in range(1, dim + 1)
        )

    def cos(a: str, b: str) -> str:
        return f"(({dot(a, b)}) / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"

    return f"""
    WITH l AS (
      SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 0
    ), r AS (
      SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 1
    ), fwd_all AS (
      SELECT l.vec_id AS src_id, r.vec_id AS tgt_id,
             {cos("l.embedding", "r.embedding")} AS cosine_sim
      FROM l CROSS JOIN r WHERE l.vec_id <> r.vec_id
    ), fwdk AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY src_id ORDER BY cosine_sim DESC, tgt_id) AS rnk
        FROM fwd_all) WHERE rnk <= {k}
    ), tgts AS (
      SELECT DISTINCT tgt_id FROM fwdk
    ), bwd_all AS (
      SELECT t.tgt_id, l.vec_id AS back_id,
             {cos("r.embedding", "l.embedding")} AS cosine_sim
      FROM tgts t JOIN r ON r.vec_id = t.tgt_id
      CROSS JOIN l WHERE l.vec_id <> t.tgt_id
    ), bwdk AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY tgt_id ORDER BY cosine_sim DESC, back_id) AS rnk
        FROM bwd_all) WHERE rnk <= {k}
    ), af AS (
      SELECT src_id,
             list_reduce(list(cosine_sim ORDER BY rnk), (a, b) -> a + b)
               / COUNT(*) AS avg_src
      FROM fwdk GROUP BY src_id
    ), ab AS (
      SELECT tgt_id,
             list_reduce(list(cosine_sim ORDER BY rnk), (a, b) -> a + b)
               / COUNT(*) AS avg_tgt
      FROM bwdk GROUP BY tgt_id
    ), scored AS (
      SELECT f.src_id, f.tgt_id, f.cosine_sim,
             f.cosine_sim / ((af.avg_src + ab.avg_tgt) / 2.0) AS margin
      FROM fwdk f
      JOIN af ON af.src_id = f.src_id
      JOIN ab ON ab.tgt_id = f.tgt_id
    )
    SELECT src_id, tgt_id, cosine_sim, margin FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rn
      FROM scored)
    WHERE rn = 1 AND margin >= {threshold}
    """


def _lpa_sql(k: int) -> str:
    """Unrolled ANSI-SQL twin of k synchronous label-propagation
    iterations (same structure as _pagerank_sql: one CTE block per
    iteration, deterministic (count DESC, label) arg-max)."""
    blocks = [
        """
    WITH eo AS (
      SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
                      'S' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM eo UNION SELECT dst, src FROM eo),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    l0 AS (SELECT node, node AS label FROM nodes)"""
    ]
    for i in range(k):
        blocks.append(
            f""",
    c{i} AS (
      SELECT e.dst AS node, l.label, COUNT(*) AS cnt
      FROM edges e JOIN l{i} l ON l.node = e.src
      GROUP BY e.dst, l.label
    ),
    p{i} AS (
      SELECT node, label FROM (
        SELECT node, label, ROW_NUMBER() OVER (
          PARTITION BY node ORDER BY cnt DESC, label) AS rn
        FROM c{i}) WHERE rn = 1
    ),
    l{i + 1} AS (
      SELECT n.node, COALESCE(p.label, n.label) AS label
      FROM l{i} n LEFT JOIN p{i} p ON p.node = n.node
    )"""
        )
    blocks.append(
        f"""
    SELECT label AS community, COUNT(*) AS n_members
    FROM l{k} GROUP BY label"""
    )
    return "".join(blocks)


def _curation_blocklist_filter_sql() -> str:
    return """
    WITH h AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'www.' || source || '.example.com'
                  ELSE source || '.example.com' END AS host
      FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
    ), c AS (
      SELECT doc_id, host,
             list_transform(
               generate_series(1, len(string_split(host, '.'))),
               i -> array_to_string(string_split(host, '.')[i:], '.')) AS chain
      FROM h
    )
    SELECT doc_id, host FROM c
    WHERE NOT list_has_any(
      chain, ['src3.example.com', 'www.src7.example.com', 'src11.example.com'])
    """


def _near_dup_survivors_sql() -> str:
    """The complete production near-dup path in ANSI SQL: polynomial
    MinHash-LSH pairs (bit-identical to the Spark plan) → recursive-CTE
    transitive closure → min-id canonical survivor per cluster."""
    inner = _minhash_poly_sql()
    return f"""
    WITH RECURSIVE p AS (
      SELECT id_a, id_b FROM ( {inner} ) mh
    ), e AS (
      SELECT id_a AS a, id_b AS b FROM p
      UNION ALL
      SELECT id_b, id_a FROM p
    ), reach AS (
      SELECT doc_id AS id, doc_id AS comp FROM documents
      UNION
      SELECT e.b AS id, r.comp AS comp FROM reach r JOIN e ON e.a = r.id
    )
    SELECT id AS doc_id, MIN(comp) AS component, MIN(comp) = id AS keep
    FROM reach GROUP BY id
    """


def _pagerank_sql(n_iter: int = 3) -> str:
    """Fixed-iteration integer PageRank as chained CTEs (r0..rN)."""
    iters = []
    for i in range(1, n_iter + 1):
        iters.append(
            f"""r{i} AS (
      SELECT n.node,
             CAST(150000000 AS BIGINT) + (85 * COALESCE(f.s, 0)) // 100 AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank // o.deg) AS s
        FROM edges e JOIN r{i - 1} r ON e.src = r.node
                     JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst) f ON n.node = f.node
    )"""
        )
    chain = ",\n    ".join(iters)
    return f"""
    WITH eo AS (
      SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
                      'S' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM eo UNION SELECT dst, src FROM eo),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
    {chain}
    SELECT node, CAST(rank AS BIGINT) AS rank
    FROM r{n_iter} ORDER BY rank DESC, node LIMIT 25
    """


def _kmeans_sql(k: int = 8, n_iter: int = 2, dim: int = 64) -> str:
    """Exact fixed-point Lloyd k-means as chained assign/update CTEs."""

    def assign(name: str, cents: str) -> str:
        return f"""{name} AS (
      SELECT vec_id, cluster, d2 FROM (
        SELECT vec_id, cluster, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        FROM (
          SELECT q.vec_id, c.cluster,
                 SUM((q.qv - c.cq) * (q.qv - c.cq)) AS d2
          FROM q JOIN {cents} c ON q.pos = c.pos
          GROUP BY q.vec_id, c.cluster))
      WHERE rn = 1
    )"""

    parts = [assign("a1", "c0")]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""c{i} AS (
      SELECT a.cluster, q.pos, SUM(q.qv) // COUNT(*) AS cq
      FROM a{i} a JOIN q ON a.vec_id = q.vec_id
      GROUP BY a.cluster, q.pos
    )"""
        )
        parts.append(assign(f"a{i + 1}", f"c{i}"))
    chain = ",\n    ".join(parts)
    return f"""
    WITH ex AS (
      SELECT vec_id, unnest(range(1, {dim + 1})) AS pos, embedding FROM embeddings
    ),
    q AS (
      SELECT vec_id, pos,
             CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 1000000) AS BIGINT) AS qv
      FROM ex
    ),
    c0 AS (
      SELECT vec_id AS cluster, pos, qv AS cq FROM q
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
    ),
    {chain}
    SELECT vec_id, cluster, CAST(d2 AS BIGINT) AS d2 FROM a{n_iter + 1}
    """


_QUOTA_MIX_PPM = {
    "src0": 300000,
    "src1": 200000,
    "src10": 100000,
    **{f"src{i}": 50000 for i in range(2, 10)},
}


_BM25_TERMS = ("query", "merge", "vector")


_HLL_CONST = 0.709 * 64 * 64 * (1 << 27)  # same association order both engines


# --- BPE tokenizer training (operators/bpe.py) -----------------------------

def _bpe_cte_chain(n: int) -> str:
    """Shared CTE chain: v0 = char-symbol word vocab; per round i,
    pc_i = pair counts, m_i = deterministic argmax (freq DESC, pair
    ASC), v_i = vocab with the merge applied. Merge application uses
    scalar subqueries with a '0' sentinel (symbols are [a-z] only, so
    ' 0 0 ' never matches): when pairs exhaust early, the replace
    no-ops and the vocab survives — exactly the Spark loop's break
    semantics."""
    parts = [
        """v0 AS MATERIALIZED (
      SELECT array_to_string(string_split(w, ''), ' ') AS sym, freq FROM (
        SELECT w, COUNT(*) AS freq FROM (
          SELECT UNNEST(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
          FROM documents) WHERE w <> '' GROUP BY w)
    )"""
    ]
    for i in range(1, n + 1):
        li = f"COALESCE((SELECT l FROM m{i}), '0')"
        ri = f"COALESCE((SELECT r FROM m{i}), '0')"
        parts.append(
            f"""pc{i} AS MATERIALIZED (
      SELECT u.p[1] AS l, u.p[2] AS r, CAST(SUM(u.freq) AS BIGINT) AS f
      FROM (SELECT UNNEST(list_zip(s[1:len(s) - 1], s[2:len(s)])) AS p, freq
            FROM (SELECT string_split(sym, ' ') AS s, freq FROM v{i - 1})) u
      GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"m{i} AS MATERIALIZED "
            f"(SELECT l, r, f FROM pc{i} ORDER BY f DESC, l, r LIMIT 1)"
        )
        if i < n:
            parts.append(
                f"""v{i} AS MATERIALIZED (
      SELECT trim(replace(' ' || sym || ' ',
                          ' ' || {li} || ' ' || {ri} || ' ',
                          ' ' || {li} || {ri} || ' ')) AS sym, freq
      FROM v{i - 1}
    )"""
            )
    return ",\n    ".join(parts)


def _bpe_learn_sql(n: int = 8) -> str:
    unions = "\n    UNION ALL ".join(
        f"SELECT {i} AS merge_rank, l AS merge_left, r AS merge_right,"
        f" f AS pair_freq FROM m{i}"
        for i in range(1, n + 1)
    )
    return f"""
    WITH {_bpe_cte_chain(n)}
    {unions}
    """


_BPE_N_MERGES = 8


def _bpe_tokenize_sql(n: int = 8, topk: int = 30) -> str:
    padded = "' ' || array_to_string(string_split(w, ''), ' ') || ' '"
    expr = padded
    for i in range(1, n + 1):
        li = f"COALESCE((SELECT l FROM m{i}), '0')"
        ri = f"COALESCE((SELECT r FROM m{i}), '0')"
        expr = (
            f"replace({expr}, ' ' || {li} || ' ' || {ri} || ' ',"
            f" ' ' || {li} || {ri} || ' ')"
        )
    return f"""
    WITH {_bpe_cte_chain(n)},
    words AS (
      SELECT w FROM (
        SELECT UNNEST(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        FROM documents) WHERE w <> ''
    ),
    toks AS (
      SELECT UNNEST(string_split(trim({expr}), ' ')) AS token FROM words
    )
    SELECT token, COUNT(*) AS n_occurrences
    FROM toks GROUP BY token
    ORDER BY n_occurrences DESC, token LIMIT {topk}
    """


# --- MMR diversified retrieval (operators/similarity.py) -------------------

def _mmr_sql(k: int = 4, n: int = 12, dim: int = 64) -> str:
    """ANSI-SQL twin of similarity.mmr_rerank: the greedy selection is
    unrolled into k CTE stages (pick argmax of 0.5·rel − 0.5·maxsim
    with id tie-break, then fold the picked vector into every
    survivor's maxsim). All similarities round to 6dp before any
    comparison and λ=0.5 multiplications are exact, so scores and
    therefore selections are bit-identical to the Spark plan. Dots are
    the EXPLICIT left-to-right element sum (same fold order as the
    Spark side's similarity.dot and the _ivf_int8_sql twin) — never
    DuckDB's list_dot_product, whose summation order is unspecified:
    a raw cosine landing on a 6dp rounding boundary could round
    differently per engine and flip a greedy selection."""

    def dot(a: str, b: str) -> str:
        return " + ".join(
            f"CAST({a}[{i}] AS DOUBLE)*CAST({b}[{i}] AS DOUBLE)"
            for i in range(1, dim + 1)
        )

    def cos(a: str, b: str) -> str:
        return (
            f"ROUND(({dot(a, b)}) / "
            f"(sqrt({dot(a, a)}) * sqrt({dot(b, b)})), 6)"
        )

    stages = []
    prev = "s0"
    unions = []
    for i in range(1, k + 1):
        stages.append(
            f"""p{i} AS (
      SELECT query_id, cand_id, rel, cvec,
             0.5 * rel - 0.5 * maxsim AS score
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id
              ORDER BY 0.5 * rel - 0.5 * maxsim DESC, cand_id) AS rn
            FROM {prev}) WHERE rn = 1
    )"""
        )
        unions.append(
            f"SELECT query_id, {i} AS rank, cand_id AS neighbor_id,"
            f" score AS mmr_score FROM p{i}"
        )
        if i < k:
            stages.append(
                f"""s{i} AS (
      SELECT s.query_id, s.cand_id, s.rel, s.cvec,
             GREATEST(s.maxsim, {cos('s.cvec', 'p.cvec')}) AS maxsim
      FROM {prev} s JOIN p{i} p USING (query_id)
      WHERE s.cand_id <> p.cand_id
    )"""
            )
            prev = f"s{i}"
    stage_sql = ",\n    ".join(stages)
    union_sql = "\n    UNION ALL ".join(unions)
    return f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cvec FROM embeddings),
    scored AS (
      SELECT q.query_id, c.vec_id AS cand_id,
             ({dot('q.qvec', 'c.cvec')})
               / (sqrt({dot('q.qvec', 'q.qvec')})
                  * sqrt({dot('c.cvec', 'c.cvec')})) AS raw_cos,
             c.cvec
      FROM c, q WHERE c.vec_id <> q.query_id
    ),
    cand AS (
      SELECT query_id, cand_id, ROUND(raw_cos, 6) AS rel, cvec
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY raw_cos DESC, cand_id) AS rn
            FROM scored) WHERE rn <= {n}
    ),
    s0 AS (SELECT query_id, cand_id, rel, cvec, 0.0 AS maxsim FROM cand),
    {stage_sql}
    {union_sql}
    """


# --- geo: cell-blocked proximity join (functions/geo.py) -------------------

def _geo_coords(df: DataFrame, key_col: str, salt: str) -> DataFrame:
    """Deterministic synthetic coordinates from the row key: two 32-bit
    md5 prefixes mapped onto lat ∈ [-60, 60), lon ∈ [-180, 180) at
    1e-4° resolution. Integer hash → exact integer modulo → one IEEE
    division by 1e4 — every step is reproduced verbatim by the DuckDB
    oracle, so both engines see bit-identical coordinates (the repo's
    standard md5-integer determinism contract, cf.
    sampling.weighted_bernoulli_sample)."""

    def h(tag: str):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(tag), F.col(key_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")

    return df.withColumn(
        "latitude", (h(salt + "lat") % 1_200_000) / 10_000.0 - 60.0
    ).withColumn("longitude", (h(salt + "lon") % 3_600_000) / 10_000.0 - 180.0)


_GEO_COORD_SQL = (
    "CAST('0x' || substr(md5('{salt}{axis}' || CAST({key} AS VARCHAR)), 1, 8)"
    " AS BIGINT) % {mod} / 10000.0 - {off}"
)


def _geo_coord_sql(key: str, salt: str, axis: str) -> str:
    mod, off = (1_200_000, "60.0") if axis == "lat" else (3_600_000, "180.0")
    return _GEO_COORD_SQL.format(salt=salt, axis=axis, key=key, mod=mod, off=off)


_HG_FROM = TX._HOMOGLYPH_FROM
_HG_TO = TX._HOMOGLYPH_TO
_FW_FROM = "".join(chr(0xFF01 + i) for i in range(94))
_FW_TO = "".join(chr(0x21 + i) for i in range(94))
_HG_INJECTIONS = ["р\u0430yment", "ΑΤΜ\u03bds", "\uff26\uff32\uff25\uff25 \uff24\uff2f\uff37\uff2e"]


def _sq(s: str) -> str:
    """Escape a string for a single-quoted DuckDB literal."""
    return s.replace("'", "''")


# star-exports INCLUDING underscore helpers — family modules are
# slices of one former module and rely on these names verbatim
__all__ = [n for n in dir() if not n.startswith('__')]
