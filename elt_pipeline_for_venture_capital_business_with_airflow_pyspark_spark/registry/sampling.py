"""Registry family: sampling (12 queries).

- sample_hash_stratified
- sample_weighted_bernoulli
- sample_per_group_cap
- mix_weighted_domains
- sample_three_way_split
- sample_temporal_embargo_split
- sample_quota_mix
- sample_negatives_contrastive
- sample_dsir_weights
- sample_dsir_select
- sample_dsir_index_append
- sample_dsir_index_score
"""

from ._shared import *  # noqa: F401,F403
from ._shared import _register  # noqa: F401



@_register(
    "sample_hash_stratified",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
          < CASE WHEN lang = 'en' THEN '10' ELSE '40' END
    """,
)
def _sample_hash_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling by key hash: md5-prefix
    threshold per stratum (en ≈ 6%, others ≈ 25%). Unlike
    rand()/TABLESAMPLE this is reproducible across runs, engines and
    retries — the only sane way to carve train/eval splits at 100 TB —
    and the predicate pushes down to the scan."""
    docs = read_table(spark, sf, "documents")
    thresh = F.when(F.col("lang") == "en", F.lit("10")).otherwise(F.lit("40"))
    return docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < thresh
    ).select("doc_id", "lang")


@_register(
    "sample_weighted_bernoulli",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'wq1'), 1, 8)
               AS BIGINT) * 600
          < LEAST(GREATEST(n_chars, 0), 600) * 4294967296
    """,
)
def _sample_weighted_bernoulli(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-weighted corpus thinning
    (operators/sampling.weighted_bernoulli_sample): each document kept
    with probability n_chars/600 (longer docs favored, clamped at 1) —
    decided by an EXACT integer inequality on the 32-bit md5 prefix of
    doc_id||salt, so membership is bit-reproducible across engines,
    executors and retries with no float/pow/log anywhere (the
    A-Res-style u^(1/w) keys need transcendentals whose last-ulp libm
    differences can flip borderline rows). Pure scan-stage filter,
    zero shuffles; the oracle evaluates the identical integers via
    DuckDB's hex cast."""
    docs = read_table(spark, sf, "documents")
    return SMP.weighted_bernoulli_sample(
        docs, "doc_id", "n_chars", max_weight=600, salt="wq1"
    ).select("doc_id", "lang", "n_chars")


@_register(
    "sample_per_group_cap",
    """
    WITH ranked AS (
      SELECT doc_id, source, lang,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS sample_rank
      FROM documents
    )
    SELECT doc_id, source, lang, CAST(sample_rank AS INT) AS sample_rank
    FROM ranked WHERE sample_rank <= 10
    """,
)
def _sample_per_group_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Domain balancing (operators/sampling.cap_per_group): at most 10
    docs per source, chosen by md5-hash order — a deterministic uniform
    draw that every engine, executor and rerun agrees on. One shuffle
    (window partition); the per-group state is a single counter."""
    docs = read_table(spark, sf, "documents").select("doc_id", "source", "lang")
    capped = SMP.cap_per_group(docs, ["source"], "doc_id", 10)
    return capped.select(
        "doc_id", "source", "lang", F.col("sample_rank").cast("int").alias("sample_rank")
    )


@_register(
    "mix_weighted_domains",
    """
    WITH w AS (
      SELECT doc_id, lang,
             CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 2 ELSE 1 END AS wt
      FROM documents
    )
    SELECT doc_id, lang, CAST(unnest(range(1, wt + 1)) AS INT) AS epoch
    FROM w
    """,
)
def _mix_weighted_domains(spark: SparkSession, sf: str) -> DataFrame:
    """Epoch-weighted corpus mixing (operators/sampling.weighted_mix):
    en×3, de×2, rest×1 — the '3 epochs of Wikipedia, 1 of CommonCrawl'
    recipe. Weights ride a broadcast join; replication is a map-side
    sequence explode, zero shuffles end to end."""
    docs = read_table(spark, sf, "documents").select("doc_id", "lang")
    mixed = SMP.weighted_mix(
        docs, spark, "lang", {"en": 3, "de": 2}, default_weight=1
    )
    return mixed.select("doc_id", "lang", F.col("epoch").cast("int").alias("epoch"))


@_register(
    "sample_three_way_split",
    """
    SELECT doc_id,
           CASE WHEN h < '0a' THEN 'test'
                WHEN h < '14' THEN 'val'
                ELSE 'train' END AS split
    FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
          FROM documents)
    """,
)
def _sample_three_way_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test assignment by key hash: md5-prefix
    thresholds carve ≈3.9% test, ≈3.9% val, rest train. Reproducible
    across runs/engines/retries (unlike rand()-based splits) and — the
    property that matters at 100 TB — STABLE UNDER APPENDS: a document
    keeps its split forever, so eval contamination can't creep in when
    the corpus grows. Pure projection, no shuffle."""
    docs = read_table(spark, sf, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return docs.select(
        "doc_id",
        F.when(h < "0a", F.lit("test"))
        .when(h < "14", F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


@_register(
    "sample_temporal_embargo_split",
    """
    SELECT CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
                WHEN ts < TIMESTAMP '2024-01-22 00:00:00' THEN 'embargo'
                WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 'test'
                ELSE 'unknown' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1
    """,
)
def _sample_temporal_embargo_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe TEMPORAL train/test split with an embargo gap —
    the forecasting/recsys counterpart of the hash split
    (sample_three_way_split): training data ends STRICTLY BEFORE the
    test window opens, and the embargo band between them is excluded
    from both sides so lagged/windowed features computed near the
    boundary cannot leak test-period information into training (the
    standard purged-split discipline from financial ML, equally
    load-bearing for any pipeline with rolling features). Pure
    scan-stage CASE on the timestamp — zero shuffle before the audit
    aggregation; NULL timestamps surface as an explicit 'unknown'
    bucket instead of silently joining a side."""
    ev = read_table(spark, sf, "events")
    train_end = F.lit("2024-01-20 00:00:00").cast("timestamp")
    test_start = F.lit("2024-01-22 00:00:00").cast("timestamp")
    split = (
        F.when(F.col("ts") < train_end, F.lit("train"))
        .when(F.col("ts") < test_start, F.lit("embargo"))
        .when(F.col("ts") >= test_start, F.lit("test"))
        .otherwise(F.lit("unknown"))
    )
    return ev.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@_register(
    "sample_quota_mix",
    f"""
    WITH w(source, ppm) AS (VALUES {", ".join(
        f"('{k}', {v})" for k, v in sorted(_QUOTA_MIX_PPM.items())
    )}),
    s AS (
      SELECT w.source,
             (183 * w.ppm) // 1000000 AS base,
             (183 * w.ppm) % 1000000 AS rem
      FROM w
    ), l AS (
      SELECT 183 - SUM(base) AS leftover FROM s
    ), q AS (
      SELECT source,
             base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                              <= (SELECT leftover FROM l)
                         THEN 1 ELSE 0 END AS quota
      FROM s
    ), r AS (
      SELECT d.doc_id, d.source,
             ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
             ) AS rn
      FROM documents d JOIN q ON d.source = q.source
      WHERE d.source IS NOT NULL AND d.doc_id IS NOT NULL
    )
    SELECT r.doc_id, r.source
    FROM r JOIN q ON r.source = q.source
    WHERE r.rn <= q.quota
    """,
)
def _sample_quota_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-quota dataset mixing (operators/sampling.quota_mix): the
    "30% src0 / 20% src1 / ..." corpus-composition step apportioned by
    the LARGEST-REMAINDER method in pure BIGINT arithmetic — 183 seats
    over 11 weighted sources leaves 3 fractional seats that go to the
    largest remainders (src0/src1/src10 here), sources not in the
    weight table are excluded entirely, and a quota exceeding a
    source's row count yields every row (deliberate undershoot —
    silently stealing the shortfall would skew the stated ratios).
    Selection inside each source is md5-order, the repo's
    deterministic-shuffle primitive. Per-source apportionment math
    runs on the KB-state distinct-source frame; quotas broadcast back
    onto the corpus scan; the only data-sized exchange is the
    per-source row_number partition."""
    # NULL ids are excluded up front: the md5 selection key of a NULL
    # id is NULL, and NULL sort position differs across engines
    # (Spark NULLS FIRST vs DuckDB NULLS LAST) — caught by the
    # null-heavy sweep in round 9
    docs = read_table(spark, sf, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    out = SMP.quota_mix(
        docs, "source", "doc_id", 183, weights_ppm=_QUOTA_MIX_PPM
    )
    return out.select("doc_id", "source")


@_register(
    "sample_negatives_contrastive",
    """
    WITH c AS (
      SELECT vec_id AS cid, label AS clabel,
             CAST('0x' || substr(md5('ng1b' || CAST(vec_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 16 AS b
      FROM embeddings
    ), q AS (
      SELECT e.vec_id AS qid, e.label AS qlabel,
             CAST('0x' || substr(md5('ng1q' || CAST(e.vec_id AS VARCHAR)
                  || '#' || CAST(a.i AS VARCHAR)), 1, 8) AS BIGINT) % 16 AS b
      FROM embeddings e, generate_series(0, 5) a(i)
      WHERE e.vec_id < 20
    ), cand AS (
      SELECT DISTINCT qid, cid FROM q JOIN c USING (b)
      WHERE qid <> cid AND qlabel IS DISTINCT FROM clabel
    )
    SELECT query_id, neg_id, neg_rank FROM (
      SELECT qid AS query_id, cid AS neg_id,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
               CAST('0x' || substr(md5('ng1r' || CAST(qid AS VARCHAR)
                    || '@' || CAST(cid AS VARCHAR)), 1, 8) AS BIGINT),
               cid) AS neg_rank
      FROM cand
    ) WHERE neg_rank <= 5
    """,
)
def _sample_negatives_contrastive(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic negative sampling for contrastive pairs
    (operators/sampling.sample_negatives): 5 different-label negatives
    per query vector, drawn pseudo-uniformly via BUCKET PROBING — the
    corpus hashes once into 16 md5 buckets, each query probes 6
    hash-chosen buckets through a plain equi-join (cost linear in
    |queries|, never |queries|·|corpus| — the no-cross-join contract
    the whole sampling family keeps), then per-(query, candidate)
    hash ranking cuts to k. Every step is exact md5-integer
    arithmetic: the draw is bit-reproducible across engines,
    executors, retries and epochs (salt = epoch)."""
    emb = read_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return SMP.sample_negatives(
        queries.select("vec_id", "label"),
        emb.select("vec_id", "label"),
        "vec_id",
        "label",
        k=5,
        n_buckets=16,
        attempts=6,
        salt="ng1",
    )


@_register(
    "sample_epoch_shuffle",
    """
    WITH k AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5('3:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) AS shuffle_key
      FROM documents WHERE doc_id IS NOT NULL
    )
    SELECT doc_id, lang, shuffle_key,
           CAST(((shuffle_key % 16) + 16) % 16 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY ((shuffle_key % 16) + 16) % 16
             ORDER BY shuffle_key, doc_id) AS INT) AS pos
    FROM k
    """,
)
def _sample_epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic epoch-3 training shuffle + 16-way reshard
    (sampling.epoch_shuffle, round 10): md5-keyed pseudo-random order,
    reproducible bit-for-bit across engines/retries (the property
    rand() shuffles lack — a crashed epoch must resume at an exact
    position), fresh and uncorrelated each epoch. The per-shard
    ranking window's parallelism is n_shards — size it to the
    consumer at scale; 16 here keeps the sf0.01 oracle cheap."""
    docs = read_table(spark, sf, "documents").select("doc_id", "lang")
    return SMP.epoch_shuffle(docs, epoch=3, n_shards=16)


# --- DSIR importance resampling (round 12) -----------------------------------

_DSIR_TARGET_SQL = "COALESCE(lang = 'en' AND doc_id % 10 = 0, FALSE)"


def _dq(e: str) -> str:
    """DuckDB quantized 256*log2 for a positive BIGINT expression —
    textual twin of operators/sampling._qlog2_col (same arithmetic as
    the LM oracles: bin() bit length, shift, truncating //)."""
    return (
        f"((length(bin({e})) - 1) * 256 "
        f"+ (({e}) * 256) // (CAST(1 AS BIGINT) << (length(bin({e})) - 1)) "
        f"- 256)"
    )


def _dsir_weights_ctes() -> str:
    """Shared CTE chain: hashed char-3-gram buckets -> target/raw
    bucket distributions -> per-bucket fixed-point log-ratios ->
    per-raw-doc importance log-weights."""
    return f"""
    dsd AS (
      SELECT doc_id, {_DSIR_TARGET_SQL} AS t,
             regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
      FROM documents WHERE doc_id IS NOT NULL
    ), dsg AS (
      SELECT doc_id, t,
             unnest(list_transform(generate_series(1, length(s) - 2),
               i -> (ascii(s[i]) + ascii(s[i+1])*31 + ascii(s[i+2])*961) % 1024))
               AS b
      FROM dsd WHERE length(s) >= 3
    ), dscdb AS (
      SELECT doc_id, t, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM dsg GROUP BY 1, 2, 3
    ), dsbt AS (
      SELECT b,
             CAST(SUM(CASE WHEN t THEN c ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN NOT t THEN c ELSE 0 END) AS BIGINT) AS tq
      FROM dscdb GROUP BY b
    ), dsbtt AS (
      SELECT b, tp + 1 AS tp1, tq + 1 AS tq1,
             CAST(SUM(tp) OVER () AS BIGINT) + 1024 AS tpn,
             CAST(SUM(tq) OVER () AS BIGINT) + 1024 AS tqn
      FROM dsbt
    ), dslw AS (
      SELECT b,
             {_dq("tp1")} - {_dq("tpn")} - {_dq("tq1")} + {_dq("tqn")} AS lw256
      FROM dsbtt
    ), dsw AS (
      SELECT dscdb.doc_id,
             CAST(SUM(c) AS BIGINT) AS n_grams,
             CAST(SUM(c * lw256) AS BIGINT) AS logw256
      FROM dscdb JOIN dslw USING (b)
      WHERE NOT t
      GROUP BY 1
    )"""


@_register(
    "sample_dsir_weights",
    f"""
    WITH {_dsir_weights_ctes()}
    SELECT doc_id, n_grams, logw256,
           CAST(logw256 AS DOUBLE) / 256.0 AS logw_bits
    FROM dsw
    """,
)
def _sample_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (operators/sampling.
    dsir_importance_weights; Xie et al. 2023, arXiv:2302.03169):
    every raw-pool document scored by 256·log2 of its
    target/raw likelihood ratio over hashed char-3-gram features
    (1024 buckets, add-one smoothing) — the data-selection step that
    turns '100 TB of crawl' into 'the slice that looks like the
    target domain'. Target sample here: the en docs with
    doc_id%10 = 0. All arithmetic is the repo's quantized-log2 BIGINT
    fixed point, so the oracle re-derives the distributions AND the
    weights from scratch and the hashes must agree bit-for-bit. Two
    data-grain shuffles (both map-side combinable); the distribution
    table is ≤1024 rows — broadcast at any corpus size."""
    docs = read_table(spark, sf, "documents")
    target = (F.col("lang") == "en") & (F.col("doc_id") % 10 == 0)
    return SMP.dsir_importance_weights(
        docs, target, "doc_id", "text", n_buckets=1024
    ).select(F.col("id").alias("doc_id"), "n_grams", "logw256", "logw_bits")


@_register(
    "sample_dsir_select",
    f"""
    WITH {_dsir_weights_ctes()}, dskey AS (
      SELECT doc_id, logw256,
             CAST('0x' || substr(md5('dsir1:' || CAST(doc_id AS VARCHAR)), 1, 5)
                  AS BIGINT) + 1 AS u
      FROM dsw
    ), dse AS (
      SELECT doc_id, logw256, GREATEST(5120 - {_dq("u")}, 1) AS e
      FROM dskey
    )
    SELECT doc_id, logw256,
           logw256 + 2048 - {_dq("e")} AS gkey256
    FROM dse
    ORDER BY gkey256 DESC, doc_id
    LIMIT 100
    """,
)
def _sample_dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR Gumbel top-k selection (operators/sampling.
    dsir_gumbel_topk): resample 100 raw-pool docs with probability
    ∝ importance weight via the Gumbel-max trick, entirely in
    quantized-log2 BIGINT arithmetic — u from the repo's 20-bit md5
    uniform, -log2(-log2 u) via two quantized logs (a monotone
    transform of the exact Gumbel key, so the selected SET is the
    paper's), top-k as TakeOrderedAndProject with a deterministic
    doc_id tiebreak. Bit-reproducible across engines/retries — float
    Gumbel noise is not. The oracle replays draw, keys and cutoff."""
    docs = read_table(spark, sf, "documents")
    target = (F.col("lang") == "en") & (F.col("doc_id") % 10 == 0)
    w = SMP.dsir_importance_weights(docs, target, "doc_id", "text", n_buckets=1024)
    return SMP.dsir_gumbel_topk(w, 100, salt="dsir1").select(
        F.col("id").alias("doc_id"), "logw256", "gkey256"
    )


# --- persisted / incremental DSIR index (round 12, part 2) -------------------

_DSIR_INC_TAG = "pool12_plus_shard034"


def _dsir_inc_path(sf: str) -> str:
    return _dataset_cache_path("dsir_index_inc_v1", sf)


def _dsir_inc_bootstrap(spark: SparkSession, sf: str) -> str:
    """Deterministic incremental-index state: build the bucket
    distributions on the doc_id%5 ∈ {1,2} corpus slice, APPEND the
    {0,3,4} shard — leaving counts exactly equal to featurizing the
    whole corpus (bucket counts are additive). The completion tag
    lands in meta LAST, so a crash mid-bootstrap reads as "not
    bootstrapped", never as partial counts."""
    docs = read_table(spark, sf, "documents")
    target = (F.col("lang") == "en") & (F.col("doc_id") % 10 == 0)
    path = _dsir_inc_path(sf)
    SMP.dsir_index_build(
        docs.filter((F.col("doc_id") % 5).isin(1, 2)),
        target,
        path,
    )
    SMP.dsir_index_append(
        docs.filter((F.col("doc_id") % 5).isin(0, 3, 4)), target, path
    )
    meta = SIO.read_meta(spark, path) or {}
    meta["state"] = _DSIR_INC_TAG
    SIO.write_meta(spark, path, meta)
    return path


@_register(
    "sample_dsir_index_append",
    f"""
    WITH dsd AS (
      SELECT doc_id, {_DSIR_TARGET_SQL} AS t,
             regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
      FROM documents WHERE doc_id IS NOT NULL
    ), dsg AS (
      SELECT doc_id, t,
             unnest(list_transform(generate_series(1, length(s) - 2),
               i -> (ascii(s[i]) + ascii(s[i+1])*31 + ascii(s[i+2])*961) % 1024))
               AS b
      FROM dsd WHERE length(s) >= 3
    )
    SELECT b,
           CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS tq
    FROM dsg GROUP BY b
    """,
)
def _sample_dsir_index_append(spark: SparkSession, sf: str) -> DataFrame:
    """APPEND leg of the persisted DSIR lifecycle (operators/sampling.
    dsir_index_append): build on the doc_id%5 ∈ {1,2} slice, fold the
    {0,3,4} shard's bucket counts in by per-bucket summation (one
    table commit) — never a pool re-featurization. The returned frame is the
    merged (b, tp, tq) table read back from parquet; the oracle
    refeaturizes the FULL corpus from scratch, so this entry hash-pins
    incremental == full for DSIR distributions exactly the way
    text_lm_index_append pins it for LM counts. The stored state is
    ≤1024 rows at any corpus size — the whole point: at daily cadence
    the distribution update costs one shard scan."""
    path = _dsir_inc_bootstrap(spark, sf)
    return spark.read.parquet(f"{path}/buckets").select("b", "tp", "tq")


@_register(
    "sample_dsir_index_score",
    f"""
    WITH {_dsir_weights_ctes()}
    SELECT doc_id, n_grams, logw256,
           CAST(logw256 AS DOUBLE) / 256.0 AS logw_bits
    FROM dsw
    """,
)
def _sample_dsir_index_score(spark: SparkSession, sf: str) -> DataFrame:
    """SCORE-FROM-INDEX leg (operators/sampling.dsir_score_from_index):
    the raw pool is scored against the PERSISTED bucket distributions —
    featurize only the scored docs, read one ≤1024-row parquet table,
    broadcast the log-ratios, one per-doc sum. The index state is
    build({1,2}) ⊕ append({0,3,4}) ≡ featurize-all, so this entry
    shares sample_dsir_weights' EXACT oracle: the daily read path must
    reproduce the in-plan weights bit-for-bit (same add-one smoothing,
    same quantized-log2 fixed point). A missing or untagged index
    (crash mid-bootstrap) rebuilds deterministically; a tagged one is
    probed read-only — the daily marginal cost."""
    docs = read_table(spark, sf, "documents")
    path = _dsir_inc_path(sf)
    meta = SIO.read_meta(spark, path)
    if meta is None or meta.get("state") != _DSIR_INC_TAG:
        _dsir_inc_bootstrap(spark, sf)
    target = (F.col("lang") == "en") & (F.col("doc_id") % 10 == 0)
    pool = docs.filter(~F.coalesce(target, F.lit(False)))
    return SMP.dsir_score_from_index(pool, path, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "n_grams", "logw256", "logw_bits"
    )
