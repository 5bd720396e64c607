"""Deterministic synthetic ``partsupp`` (TPC-H 4.2.3 key schedule).

The driver testdata omits ``partsupp``, which put TPC-H q2/q11/q16 and
the spec form of q20 out of reach (SURVEY.md §2 ceiling note).  This
module synthesizes it as a PURE FUNCTION of the ``part`` × ``supplier``
keys so the exact same relation can be generated independently inside
Spark and inside the DuckDB oracle SQL — no parquet artifact, no
non-determinism, bit-identical rows on both engines:

* ``ps_suppkey`` follows the TPC-H schedule (clause 4.2.3) with one
  small-cardinality repair: for ``i ∈ 0..3``::

      ps_suppkey = (ps_partkey + (ps_partkey - 1) / S + i * (S / 4)) % S + 1

  with ``S = |supplier|`` and integer division throughout.  The spec
  multiplies ``i`` by ``S/4 + (ps_partkey-1)/S``; at dbgen scale
  (S = 10 000·SF) that step never wraps to a divisor of S, but at the
  driver's S ∈ {10, 100, 1000} it can (e.g. S=10, step=5 → only 2
  distinct suppliers).  Keeping ``(ps_partkey-1)/S`` as a per-part
  ROTATION and stepping by ``S/4`` alone makes the four offsets
  ``0, S/4, 2·S/4, 3·S/4`` — strictly increasing and < S, hence
  always 4 distinct suppliers per part at ANY S ≥ 4, with the same
  uniform supplier load and part-dependent rotation the spec intends.

* ``ps_availqty``/``ps_supplycost_cents`` are affine-mod hashes of the
  key pair (primes 37/101 and 53/7919).  Supply cost is kept in INTEGER
  CENTS rather than a decimal: every downstream aggregate
  (``cost*qty`` values in q11, min-cost in q2) then runs in exact
  int64 arithmetic that both engines evaluate identically — the same
  exact-arithmetic-first discipline as ``_dsum`` in the registry.
  Bounds: cents ≤ 100 000 and qty ≤ 9 999, so a q11 national total at
  sf0.1 stays < 2^53 and the ×10 000 threshold compare stays < 2^63.

Scale posture: the generator is ``part ⨯ 4`` rows derived from a scan
of ``part`` with a broadcast 1-row supplier count — no shuffle, no
data exchange beyond the count.  At 100 TB the relation would be
generated (or materialized once) partition-local to wherever ``part``
lives; every query below joins it on ``ps_partkey``/``ps_suppkey``
like any fact table.

Reference parity: the reference's warehouse never ships partsupp
either (its staging tables are the VC schema), so this module exists
purely to close the TPC-H query-class ceiling flagged in round 5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = ["synthetic_partsupp", "PARTSUPP_CTE"]


# DuckDB-dialect CTE body producing the identical relation from the
# `part` and `supplier` views the driver registers.  Prepend inside a
# WITH clause:  WITH {PARTSUPP_CTE}  SELECT ... FROM partsupp ...
PARTSUPP_CTE = """
  ps_scnt AS (SELECT COUNT(*) AS s FROM supplier),
  ps_keys AS (
    SELECT p_partkey AS ps_partkey,
           ((p_partkey + (p_partkey - 1) // c.s + i.i * (c.s // 4)) % c.s) + 1
             AS ps_suppkey
    FROM part, ps_scnt c, (SELECT UNNEST([0, 1, 2, 3]) AS i) i
  ),
  partsupp AS (
    SELECT ps_partkey, ps_suppkey,
           ((ps_partkey * 37 + ps_suppkey * 101) % 9999) + 1 AS ps_availqty,
           ((ps_partkey * 53 + ps_suppkey * 7919) % 99901) + 100
             AS ps_supplycost_cents
    FROM ps_keys
  )
"""


def synthetic_partsupp(part: DataFrame, supplier: DataFrame) -> DataFrame:
    """Derive the deterministic partsupp relation.

    One narrow scan of ``part`` exploded ×4, with the supplier count
    attached as a broadcast single-row aggregate (a KB-sized plan
    literal at any scale — |supplier| is a metadata count, never data).
    All arithmetic is int64; no shuffle is introduced: the result
    inherits ``part``'s partitioning, which co-locates the q2/q16
    ``p_partkey`` joins.

    Precondition |supplier| >= 4 is ENFORCED, not assumed: with
    S div 4 == 0 the four supplier offsets collapse and the relation
    emits duplicate (ps_partkey, ps_suppkey) rows — a PK violation.
    The check is an ``assert_true`` folded into the ``ps_s`` column
    of every generated row, so it fires exactly when a part row is
    generated: an empty ``part`` generates nothing and never raises,
    whichever side of the join AQE materializes first (on the one-row
    count itself it fired whenever the count ran before AQE pruned the
    empty part side).
    """
    s_cnt = supplier.agg(F.count(F.lit(1)).alias("__ps_s_raw"))
    ps_s = F.col("__ps_s_raw") + F.coalesce(
        F.assert_true(
            F.col("__ps_s_raw") >= 4,
            F.lit(
                "synthetic_partsupp requires |supplier| >= 4: "
                "S div 4 == 0 collapses the four supplier "
                "offsets into duplicate (ps_partkey, "
                "ps_suppkey) rows"
            ),
        ).cast("long"),
        F.lit(0),
    )
    exploded = (
        part.select("p_partkey")
        .join(F.broadcast(s_cnt))  # 1-row cross: supplier count as a column
        .select(
            "p_partkey",
            ps_s.alias("ps_s"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("ps_i"),
        )
    )
    suppkey = (
        (
            F.col("p_partkey")
            + F.expr("(p_partkey - 1) div ps_s")
            + F.col("ps_i") * F.expr("ps_s div 4")
        )
        % F.col("ps_s")
        + F.lit(1)
    ).cast("long")
    return (
        exploded.withColumn("ps_suppkey", suppkey)
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            "ps_suppkey",
            ((F.col("p_partkey") * 37 + F.col("ps_suppkey") * 101) % 9999 + 1)
            .cast("long")
            .alias("ps_availqty"),
            ((F.col("p_partkey") * 53 + F.col("ps_suppkey") * 7919) % 99901 + 100)
            .cast("long")
            .alias("ps_supplycost_cents"),
        )
    )
