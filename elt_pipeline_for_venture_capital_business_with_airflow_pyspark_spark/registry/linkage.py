"""Registry family: linkage (2 queries).

- link_fellegi_sunter
- link_golden_records
"""

from ._shared import *  # noqa: F401,F403
from ._shared import _register  # noqa: F401



# --- record linkage (operators/linkage.py) ---------------------------------

@_register(
    "link_fellegi_sunter",
    r"""
    WITH p AS (
      SELECT p_partkey, p_name, p_brand, p_type, p_size,
             NULLIF(split_part(p_name, ' ', 2), '') AS blk
      FROM part
    ),
    cand AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             a.p_name AS name_a, b.p_name AS name_b,
             a.p_type AS type_a, b.p_type AS type_b,
             a.p_size AS size_a, b.p_size AS size_b
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.blk = b.blk
       AND a.p_partkey < b.p_partkey
    ),
    scored AS (
      SELECT id_a, id_b,
             CAST(
               CASE WHEN levenshtein(
                        regexp_replace(name_a, '[^\x20-\x7E]', '', 'g'),
                        regexp_replace(name_b, '[^\x20-\x7E]', '', 'g')) * 100
                      <= 20 * GREATEST(
                        length(regexp_replace(name_a, '[^\x20-\x7E]', '', 'g')),
                        length(regexp_replace(name_b, '[^\x20-\x7E]', '', 'g')))
                    THEN 2000 ELSE -1000 END
             + CASE WHEN type_a = type_b THEN 1500 ELSE -800 END
             + CASE WHEN ABS(size_a - size_b) <= 1 THEN 1200 ELSE -900 END
             AS BIGINT) AS score_x1000
      FROM cand
    )
    SELECT id_a, id_b, score_x1000 FROM scored WHERE score_x1000 >= 2600
    """,
)
def _link_fellegi_sunter(spark: SparkSession, sf: str) -> DataFrame:
    """Probabilistic record linkage (operators/linkage.link_pairs):
    which part rows describe the same product? Candidates blocked on
    (brand, noun of the name) — an equi-join, never a cross join —
    then Fellegi–Sunter scored with integer log-odds millis: name
    edit-distance within 20% (on printable-ASCII-normalized values,
    the cross-engine levenshtein contract) ±2000/−1000, exact type
    ±1500/−800, size within 1 ±1200/−900; threshold 2600 means the
    name must agree plus at least one corroborating attribute. All
    predicates and the score are exact integers — bit-reproducible
    across engines/executors/retries — and the pair set composes with
    dedup.connected_components for golden-record clustering."""
    part = read_table(spark, sf, "part")
    # F.get (not getItem): a space-free name yields a 1-element array and
    # getItem(1) raises INVALID_ARRAY_INDEX under ANSI mode; get() returns
    # NULL past-the-end, matching the oracle's NULLIF(split_part(...), '').
    blk = F.get(F.split(F.col("p_name"), " "), F.lit(1))
    part = part.withColumn("blk", F.when(blk != "", blk))
    return LNK.link_pairs(
        part,
        "p_partkey",
        ["p_brand", "blk"],
        [
            LNK.FieldRule("p_name", "lev_pct", 20, 2000, -1000),
            LNK.FieldRule("p_type", "exact", 0, 1500, -800),
            LNK.FieldRule("p_size", "abs_diff", 1, 1200, -900),
        ],
        threshold_x1000=2600,
    )


@_register(
    "link_golden_records",
    r"""
    WITH RECURSIVE p AS (
      SELECT p_partkey, p_name, p_brand, p_type, p_size,
             NULLIF(split_part(p_name, ' ', 2), '') AS blk
      FROM part
    ),
    cand AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             a.p_name AS name_a, b.p_name AS name_b,
             a.p_type AS type_a, b.p_type AS type_b,
             a.p_size AS size_a, b.p_size AS size_b
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.blk = b.blk
       AND a.p_partkey < b.p_partkey
    ),
    pairs AS (
      SELECT id_a, id_b FROM cand
      WHERE CAST(
              CASE WHEN levenshtein(
                       regexp_replace(name_a, '[^\x20-\x7E]', '', 'g'),
                       regexp_replace(name_b, '[^\x20-\x7E]', '', 'g')) * 100
                     <= 20 * GREATEST(
                       length(regexp_replace(name_a, '[^\x20-\x7E]', '', 'g')),
                       length(regexp_replace(name_b, '[^\x20-\x7E]', '', 'g')))
                   THEN 2000 ELSE -1000 END
            + CASE WHEN type_a = type_b THEN 1500 ELSE -800 END
            + CASE WHEN ABS(size_a - size_b) <= 1 THEN 1200 ELSE -900 END
            AS BIGINT) >= 2600
    ),
    e AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT p_partkey AS id, p_partkey AS comp FROM part
      UNION
      SELECT e.b AS id, r.comp AS comp FROM reach r JOIN e ON e.a = r.id
    ),
    comps AS (
      SELECT id, MIN(comp) AS component FROM reach GROUP BY id
    ),
    labeled AS (
      SELECT c.component, t.p_partkey, t.p_name, t.p_size, t.p_type
      FROM part t JOIN comps c ON c.id = t.p_partkey
    ),
    firsts AS (
      SELECT component,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             (list(p_name ORDER BY p_partkey) FILTER (p_name IS NOT NULL))[1]
               AS p_name,
             (list(p_size ORDER BY p_partkey) FILTER (p_size IS NOT NULL))[1]
               AS p_size
      FROM labeled GROUP BY component
    ),
    tmode AS (
      SELECT component, p_type FROM (
        SELECT component, p_type,
               ROW_NUMBER() OVER (
                 PARTITION BY component
                 ORDER BY COUNT(*) DESC, p_type) AS rn
        FROM labeled WHERE p_type IS NOT NULL
        GROUP BY component, p_type
      ) WHERE rn = 1
    )
    SELECT f.component, f.n_members, f.p_name, f.p_size, m.p_type
    FROM firsts f LEFT JOIN tmode m USING (component)
    """,
)
def _link_golden_records(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end entity resolution (linkage.link_pairs →
    dedup.connected_components → linkage.golden_records): score-linked
    part pairs cluster into components (large-star/small-star vs
    the oracle's recursive transitive closure) and
    each component collapses to ONE golden row by deterministic MDM
    survivorship — p_name/p_size from the lowest-id member holding a
    non-null value (source-priority coalesce, a sorted-struct fold in
    one grouped agg), p_type by most-frequent-non-null with
    smallest-value ties. Singletons survive as themselves, so the
    output is the complete deduplicated master table. Everything is
    exact integer/string logic — the whole three-operator pipeline
    hash-checks."""
    part = read_table(spark, sf, "part")
    blk = F.get(F.split(F.col("p_name"), " "), F.lit(1))
    blocked = part.withColumn("blk", F.when(blk != "", blk))
    pairs = LNK.link_pairs(
        blocked,
        "p_partkey",
        ["p_brand", "blk"],
        [
            LNK.FieldRule("p_name", "lev_pct", 20, 2000, -1000),
            LNK.FieldRule("p_type", "exact", 0, 1500, -800),
            LNK.FieldRule("p_size", "abs_diff", 1, 1200, -900),
        ],
        threshold_x1000=2600,
    )
    comps = DD.connected_components(
        part.select("p_partkey"), pairs.select("id_a", "id_b"),
        id_col="p_partkey",
    )
    return LNK.golden_records(
        part.select("p_partkey", "p_name", "p_size", "p_type"),
        comps,
        "p_partkey",
        first_nonnull_cols=["p_name", "p_size"],
        mode_cols=["p_type"],
    )
