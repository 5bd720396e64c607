"""Deterministic corpus-shaping operators: per-group caps and
weighted mixture expansion.

Training-data pipelines don't sample with ``rand()`` — a rerun must
produce byte-identical splits (the reference's determinism posture is
the same: its daily slices are pure functions of ``ds``,
`dags/vcapital_staging/tasks/components/extract.py:41-43`). Both
operators here order/repeat rows by *content hashes*, so every
executor, retry, and engine agrees on the result.

- ``cap_per_group`` — domain balancing: keep at most *k* rows per
  group, chosen by md5-hash order (a deterministic uniform shuffle).
  This is the standard guard against a single crawl domain dominating
  a pretraining mix. One shuffle (the window partition); at 100 TB the
  per-group state is a single counter, and heavily-capped groups can
  be pre-thinned map-side with a cheap hash-prefix filter.
- ``weighted_mix`` — epoch weighting: replicate each row
  ``weight(group)`` times with an epoch index (the "3 epochs of
  Wikipedia, 1 of CommonCrawl" recipe). Weights ride a broadcast join;
  expansion is a zero-shuffle generator explode, so the plan stays
  map-side and streams straight into a sink or pack stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.io import read_meta, recover, replace_table, write_meta
from .dedup import dedup_keep_first

__all__ = [
    "cap_per_group",
    "weighted_mix",
    "weighted_bernoulli_sample",
    "sample_negatives",
    "quota_mix",
    "pack_chunks",
    "dsir_importance_weights",
    "dsir_gumbel_topk",
    "dsir_index_build",
    "dsir_index_read",
    "dsir_index_append",
    "dsir_score_from_index",
]


def cap_per_group(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    k: int,
    *,
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Keep at most *k* rows per group in deterministic md5-hash order.

    The hash of the id column is a stable stand-in for a random draw:
    uniform, engine-independent, and reproducible. The id itself is the
    final tiebreak so equal hashes (never in practice) stay total-ordered.
    """
    h = F.md5(F.col(id_col).cast("string"))
    return dedup_keep_first(df, group_cols, [h, F.col(id_col)], k, rank_col)


def weighted_mix(
    df: DataFrame,
    spark: SparkSession,
    group_col: str,
    weights: dict[str, int],
    *,
    default_weight: int = 1,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Replicate rows per-group ``weights[group]`` times (default
    *default_weight*), tagging each copy with a 1-based epoch index.

    The weight table is a broadcast join (KB-sized dim); the
    replication is ``explode(sequence(1, w))`` — pure map-side row
    generation, no shuffle, so the expanded mix never materializes
    more than one batch at a time.
    """
    wdf = spark.createDataFrame(
        [(g, int(w)) for g, w in sorted(weights.items())],
        schema=f"{group_col} string, _mix_weight int",
    )
    joined = df.join(F.broadcast(wdf), group_col, "left")
    w = F.coalesce(F.col("_mix_weight"), F.lit(default_weight))
    return (
        joined.withColumn(epoch_col, F.explode(F.sequence(F.lit(1), w)))
        .drop("_mix_weight")
    )


def weighted_bernoulli_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    max_weight: int,
    *,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted (importance) sampling: each row kept
    independently with probability ``clamp(weight, 0, max_weight) /
    max_weight`` — the quality-weighted corpus thinning step of a
    pretraining pipeline ("keep high-quality documents more often"),
    with the same determinism contract as :func:`cap_per_group`.

    The coin flip is the row's 32-bit md5 prefix of ``id || salt``
    compared against the row's weight — an EXACT integer inequality
    (``hash32 * max_weight < weight * 2^32``), no floats and no
    transcendental functions anywhere, so every engine, executor and
    retry agrees on membership bit-for-bit (pow/log differ in the
    last ulp across libms — enough to flip membership near the
    threshold). Max product 2^32 · max_weight must stay in BIGINT:
    enforced for max_weight up to ~2^30.

    A pure scan-stage filter: pushes no worse than any derived
    predicate, zero shuffles, composable with any downstream op.
    Change ``salt`` to draw an independent sample (new epoch) —
    membership across salts is uncorrelated but each is reproducible.
    """
    if not 0 < max_weight <= (1 << 30):
        raise ValueError("max_weight must be in (0, 2^30]")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    w = F.least(
        F.greatest(F.col(weight_col).cast("bigint"), F.lit(0)),
        F.lit(int(max_weight)),
    )
    return df.filter(h * F.lit(int(max_weight)) < w * F.lit(4294967296))


def _h32(*parts) -> F.Column:
    """32-bit md5 prefix of the concatenated parts — the repo's
    standard exact-integer determinism primitive."""
    cols = [p if isinstance(p, F.Column) else F.lit(str(p)) for p in parts]
    return F.conv(
        F.substring(F.md5(F.concat(*cols)), 1, 8), 16, 10
    ).cast("bigint")


def sample_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    label_col: str,
    k: int,
    n_buckets: int = 64,
    attempts: int = 6,
    salt: str = "neg1",
) -> DataFrame:
    """Deterministic distributed negative sampling for contrastive
    training pairs: up to ``k`` corpus items per query with a
    DIFFERENT label, drawn pseudo-uniformly — with NO cross join.

    The corpus is hashed once into ``n_buckets`` (md5 of the id —
    stable across runs/engines); each query probes ``attempts``
    pseudo-random buckets (md5 of query id × attempt index), giving
    ``attempts · corpus/n_buckets`` candidates per query through a
    plain equi-join on the bucket id. Candidates are deduped, label-
    filtered (NULL labels count as different — a null-labeled item is
    never a known positive), ranked by a per-(query, candidate) hash
    and cut at ``k`` — every step an exact integer function of ids,
    so the sample is bit-reproducible and oracle-checkable.

    Scale sizing: pick ``n_buckets ≈ |corpus| / 32`` so each query
    sees ~``32 · attempts`` candidates regardless of corpus size —
    total cost linear in |queries|, never |queries|·|corpus|. Fewer
    than ``k`` negatives come back only when the probed buckets are
    label-starved (raise ``attempts``). Change ``salt`` for a fresh
    epoch; samples across salts are uncorrelated, each reproducible.
    """
    c = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(label_col).alias("__clabel"),
        (_h32(salt + "b", F.col(id_col).cast("string")) % n_buckets).alias(
            "__b"
        ),
    )
    q = (
        queries.select(
            F.col(id_col).alias("__qid"),
            F.col(label_col).alias("__qlabel"),
        )
        .withColumn(
            "__attempt", F.explode(F.array(*[F.lit(i) for i in range(attempts)]))
        )
        .withColumn(
            "__b",
            _h32(
                salt + "q",
                F.col("__qid").cast("string"),
                F.lit("#"),
                F.col("__attempt").cast("string"),
            )
            % n_buckets,
        )
    )
    cand = (
        q.join(c, "__b")
        .filter(
            (F.col("__qid") != F.col("__cid"))
            & ~F.col("__qlabel").eqNullSafe(F.col("__clabel"))
        )
        .select("__qid", "__cid")
        .distinct()
    )
    rk = _h32(
        salt + "r",
        F.col("__qid").cast("string"),
        F.lit("@"),
        F.col("__cid").cast("string"),
    )
    return dedup_keep_first(
        cand, ["__qid"], [rk, F.col("__cid")], k, "neg_rank"
    ).select(
        F.col("__qid").alias("query_id"),
        F.col("__cid").alias("neg_id"),
        "neg_rank",
    )


def quota_mix(
    df: DataFrame,
    source_col: str,
    id_col: str,
    total_n: int,
    *,
    weights_ppm: dict[str, int] | None = None,
    salt: str = "",
) -> DataFrame:
    """Exact-quota dataset mixing by the largest-remainder method —
    the "compose a 1B-doc training mix as 30% web / 25% code / ..."
    step, with integer-exact apportionment instead of per-row coin
    flips (Bernoulli mixing misses small targets by O(sqrt(n)); a
    quota mix hits each source's count exactly).

    Apportionment (all BIGINT arithmetic, no floats anywhere):

    - ``weights_ppm`` given (parts-per-million, must sum to 1e6):
      ideal_i = total_n * ppm_i; base_i = ideal_i div 1e6; the
      ``total_n - sum(base)`` leftover seats go to the largest
      remainders ``ideal_i mod 1e6`` (ties -> lexicographically
      smaller source — deterministic, engine-agnostic).
    - ``weights_ppm`` omitted: proportional (stratified) to observed
      source sizes — same method with denominator N = sum(n_j).

    Row selection inside each source is md5-hash order (the repo's
    deterministic-shuffle primitive, cf. :func:`cap_per_group`):
    ``row_number() over (partition by source order by md5(id||salt),
    id) <= quota``. Change ``salt`` for an independent draw.

    A source whose quota exceeds its row count yields all its rows
    and the mix undershoots ``total_n`` — deliberate (silently
    stealing the shortfall from other sources would skew the stated
    ratios; fix the weights instead). NULL sources are never sampled.
    ``id_col`` must be non-null: a NULL id hashes to a NULL selection
    key whose sort position is engine-dependent (Spark NULLS FIRST vs
    ANSI NULLS LAST) — filter NULL ids upstream for reproducibility.

    Scale shape: the per-source count aggregate and the
    largest-remainder ranking run over the DISTINCT-source frame
    (KB-state — corpus mixes have tens of sources, never data-sized);
    quotas broadcast back onto the corpus scan, and the only
    data-sized exchange is the per-source row_number partition — one
    shuffle, same as any per-group top-k."""
    if total_n < 0:
        raise ValueError("total_n must be >= 0")
    if weights_ppm is not None:
        ssum = sum(weights_ppm.values())
        if ssum != 1_000_000:
            raise ValueError(f"weights_ppm must sum to 1_000_000, got {ssum}")
        spark = df.sparkSession
        # seat apportionment runs over the WEIGHT TABLE alone, never
        # the observed sources: a weighted source absent from the data
        # keeps its seats and simply undershoots (same no-stealing
        # policy as a too-small source) — redistributing its quota
        # would silently skew the stated ratios. Caught by the
        # null-heavy sweep in round 9 (a fully-nulled source flipped
        # the leftover count).
        seats_src = spark.createDataFrame(
            [(k, int(v)) for k, v in sorted(weights_ppm.items())],
            schema=f"{source_col} string, _ppm bigint",
        ).select(
            source_col,
            F.lit(1_000_000).cast("bigint").alias("_denom"),
            (F.lit(int(total_n)).cast("bigint") * F.col("_ppm")).alias(
                "_ideal"
            ),
        )
    else:
        seats_src = (
            df.filter(F.col(source_col).isNotNull())
            .groupBy(source_col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .select(
                source_col,
                F.sum("_n").over(Window.partitionBy()).alias("_denom"),
                (F.lit(int(total_n)).cast("bigint") * F.col("_n")).alias(
                    "_ideal"
                ),
            )
        )
    # `div` = exact BIGINT division (the `/` operator is double and
    # loses exactness past 2^53 — total_n * count overflows that fast)
    seats = seats_src.selectExpr(
        source_col,
        "_ideal div _denom AS _base",
        "_ideal % _denom AS _rem",
    ).withColumn(
        "_leftover",
        F.lit(int(total_n)) - F.sum("_base").over(Window.partitionBy()),
    )
    rank = F.row_number().over(
        Window.partitionBy().orderBy(F.col("_rem").desc(), F.col(source_col))
    )
    quotas = seats.select(
        source_col,
        (
            F.col("_base")
            + F.when(rank <= F.col("_leftover"), F.lit(1)).otherwise(F.lit(0))
        ).alias("_quota"),
    )
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    rn = F.row_number().over(
        Window.partitionBy(source_col).orderBy(key, F.col(id_col))
    )
    return (
        df.filter(F.col(source_col).isNotNull())
        .join(F.broadcast(quotas), source_col)
        .withColumn("_rn", rn)
        .filter(F.col("_rn") <= F.col("_quota"))
        .drop("_rn", "_quota")
    )


def pack_chunks(
    df: DataFrame,
    id_col: str,
    len_col: str,
    chunk_size: int,
    *,
    salt: str = "",
) -> DataFrame:
    """Concat-then-chunk sequence packing — the pretraining batching
    step: documents are laid end-to-end in a deterministic global
    order (md5-hash shuffle, the repo's standard draw) and the
    resulting token stream is cut into fixed ``chunk_size`` pieces;
    each output row maps one (document, chunk) overlap with exact
    offsets. This is the classic GPT-lineage packing (documents split
    across chunk boundaries, no padding waste) as opposed to no-split
    bin packing, whose remainder-reset recurrence is inherently
    sequential — concat-then-chunk is what scales.

    Output: one row per (doc, chunk) overlap —
    ``(id, chunk_id, doc_off, chunk_off, n_toks)`` with
    ``doc_off``/``chunk_off`` the segment's start inside the document
    / chunk. Every value is exact BIGINT arithmetic over the global
    prefix sum. Rows with NULL or non-positive ``len_col`` are
    excluded (an empty document occupies no stream positions).

    Scale shape: the global prefix sum is
    :func:`..features.partitioned_cumsum` — two-phase bucketed cumsum,
    NO single-reducer sort — and the chunk fan-out is a map-side
    ``explode(sequence(first, last))``; per-doc fan-out is bounded by
    ``len/chunk_size + 1``. One ranking-bucket exchange end to end.
    """
    if chunk_size <= 0:
        raise ValueError("chunk_size must be positive")
    from .features import partitioned_cumsum

    rows = df.filter(
        F.col(len_col).isNotNull() & (F.col(len_col) > 0)
    ).select(
        F.col(id_col).alias("id"),
        F.col(len_col).cast("bigint").alias("_len"),
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))).alias("_h"),
    )
    cum = partitioned_cumsum(
        rows, [F.col("_h"), F.col("id")], "_len", out_col="_cum"
    )
    B = F.lit(int(chunk_size)).cast("bigint")
    start = (F.col("_cum") - F.col("_len")).alias("_start")
    spans = cum.select(
        "id",
        "_len",
        start,
        F.expr(f"(_cum - _len) div {int(chunk_size)}").alias("_first"),
        F.expr(f"(_cum - 1) div {int(chunk_size)}").alias("_last"),
    )
    seg = spans.select(
        "id",
        "_len",
        "_start",
        F.explode(F.sequence(F.col("_first"), F.col("_last"))).alias("chunk_id"),
    )
    seg_start = F.greatest(F.col("_start"), F.col("chunk_id") * B)
    seg_end = F.least(F.col("_start") + F.col("_len"), (F.col("chunk_id") + 1) * B)
    return seg.select(
        "id",
        "chunk_id",
        (seg_start - F.col("_start")).alias("doc_off"),
        (seg_start - F.col("chunk_id") * B).alias("chunk_off"),
        (seg_end - seg_start).alias("n_toks"),
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    id_col: str = "doc_id",
    n_shards: int = 64,
) -> DataFrame:
    """Deterministic per-epoch global shuffle + reshard — the
    dataloader step of a pretraining pipeline: every epoch the corpus
    is visited in a fresh pseudo-random order, and that order must be
    REPRODUCIBLE (across engines, executors, retries and restarts —
    rand() is none of these) so a crashed epoch resumes at an exact
    position.

    Order key = 32-bit md5 prefix of ``"{epoch}:{id}"`` (the repo's
    exact-integer determinism primitive, :func:`_h32` — restatable in
    ANSI SQL); ``shard = key mod n_shards`` balances output shards;
    ``pos`` ranks within a shard by ``(key, id)`` — a per-shard
    window, never a global sort. Different epochs give uncorrelated
    orders; the same epoch is bit-identical every run.

    Size ``n_shards`` to the consumer's parallelism (files, workers)
    — the ranking window's parallelism IS n_shards, so at 100 TB use
    thousands, not eight. Rows with NULL ids are EXCLUDED: an
    unidentifiable row has no stable position by definition.

    Output: input columns + ``(shuffle_key, shard, pos)`` with pos
    starting at 1 per shard."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    key = _h32(F.lit(f"{epoch}:"), F.col(id_col).cast("string"))
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return (
        df.filter(F.col(id_col).isNotNull())
        .withColumn("shuffle_key", key)
        .withColumn("shard", F.pmod(F.col("shuffle_key"), F.lit(int(n_shards))).cast("int"))
        .withColumn("pos", F.row_number().over(w))
    )


# --- DSIR-style importance resampling (round 12) -----------------------------
#
# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023,
# arXiv:2302.03169): score every raw-pool document by how much more
# likely its hashed n-gram features are under the TARGET distribution
# than under the RAW distribution, then resample top-k with Gumbel
# noise. The public recipe uses hashed word 1/2-grams; here features
# are the repo's SQL-replicable polynomial char-3-gram hashes
# (functions.text.char_gram_hashes — the same construction the
# oracle-checked MinHash path uses) bucketed mod n_buckets, so the
# WHOLE selection pipeline is exact BIGINT arithmetic and
# hash-checkable against an ANSI-SQL oracle. Everything transcendental
# is replaced by the quantized log2 from operators/lm.py (256·log2(m)
# within 0.086 bits, exact in both engines).

_DSIR_MANT = 256  # log2 fixed-point scale, mirrors operators/lm.MANT
_DSIR_U_BITS = 20  # uniform draw resolution: u ∈ [1, 2^20]


def _qlog2_col(name: str) -> F.Column:
    """Quantized ``256*log2(m)`` for a positive BIGINT column — the
    operators/lm._qlog2 expression, restated here so sampling does not
    import lm's scoring internals (identical arithmetic, same oracle
    restatement: length(bin(m)) bit length + truncating div)."""
    return F.expr(
        f"(length(bin({name})) - 1) * {_DSIR_MANT} "
        f"+ ({name} * {_DSIR_MANT}) "
        f"div shiftleft(1L, cast(length(bin({name})) - 1 as int)) "
        f"- {_DSIR_MANT}"
    )


def dsir_importance_weights(
    df: DataFrame,
    target_pred: F.Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    k: int = 3,
) -> DataFrame:
    """Per-document DSIR importance log-weights for the RAW pool.

    ``target_pred`` marks the (small) target-domain sample; every
    other document is the raw pool being scored. Pipeline, all
    exact-integer:

    1. hashed features: char-k-gram polynomial hashes mod
       ``n_buckets`` → per-(doc, bucket) counts ``c`` (one shuffle,
       map-side combined; the target flag rides the gram explode so
       no doc-keyed re-join is needed).
    2. bucket distributions: one tiny aggregate (≤ n_buckets rows)
       holds target/raw bucket totals; add-one smoothing gives
       p_b = (tp_b+1)/(TP+B), q_b = (tq_b+1)/(TQ+B). Grand totals
       ride an unpartitioned window over that ≤B-row frame — the
       repo's tiny-frame pattern, never applied at data grain.
    3. per-bucket log-ratio in fixed point:
       ``lw256_b = qlog2(tp_b+1) - qlog2(TP+B) - qlog2(tq_b+1)
       + qlog2(TQ+B)`` ≈ 256·log2(p_b/q_b) — a broadcast-sized
       (≤ n_buckets rows) side table.
    4. per-doc weight: ``logw256_d = Σ_b c_db · lw256_b`` via one
       broadcast join + one groupBy — 256·log2 of the doc's
       importance weight, exact BIGINT end to end. ``logw_bits``
       (= logw256/256.0) is the single IEEE division, for humans.

    At 100 TB: two data-grain shuffles (gram-bucket counts, per-doc
    sum), both map-side combinable; the distribution state is
    n_buckets rows regardless of corpus size, so the scoring join is
    always a broadcast. NULL ids are excluded (no stable identity);
    docs whose normalized text is shorter than k chars have no
    features and drop out of the pool, matching the paper's
    empty-feature-vector exclusion.

    Output: ``(id, n_grams, logw256, logw_bits)`` for raw-pool docs.
    """
    cdb, bt = _dsir_bucket_table(df, target_pred, id_col, text_col, n_buckets, k)
    lw = _dsir_log_ratios(bt, n_buckets)
    scored = (
        cdb.join(F.broadcast(lw), "b")
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.col("c") * F.col("lw256")).alias("logw256"),
            F.max("__t").alias("__t"),
        )
        .filter(~F.col("__t"))
    )
    return scored.select(
        "id",
        "n_grams",
        "logw256",
        (F.col("logw256").cast("double") / F.lit(256.0)).alias("logw_bits"),
    )


def _dsir_bucket_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    k: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [carry...], b, c): per-doc hashed-gram bucket counts —
    the featurization stage shared by the in-plan scorer and the
    persisted-index lifecycle."""
    from ..functions.text import char_gram_hashes

    return (
        char_gram_hashes(df, id_col, text_col, k, carry=carry)
        .groupBy("id", *carry, F.pmod(F.col("h"), F.lit(n_buckets)).alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _dsir_bucket_table(
    df: DataFrame,
    target_pred: F.Column,
    id_col: str,
    text_col: str,
    n_buckets: int,
    k: int,
) -> tuple[DataFrame, DataFrame]:
    """``(cdb, bt)``: the per-(doc, bucket) counts ``(id, __t, b, c)``
    of the non-NULL-id docs, ``__t`` the target flag, and the bucket
    distributions ``(b, tp, tq)`` (target / raw totals per bucket) —
    the one state the in-plan scorer and the persisted index's build
    and append derive.

    The target flag rides as a max() AGGREGATE in the in-plan scorer,
    not a grouping key: a filter on an aggregated value cannot be
    pushed below its aggregate, so the distributions and the scoring
    leg see a bit-identical ``cdb`` subtree and Spark reuses its
    exchange — the corpus is scanned and gram-exploded ONCE with no
    materialized intermediate. (The earlier localCheckpoint form
    materialized the corpus-sized feature matrix; the sf1→sf10 octave
    showed that spilling it is superlinear — exponent 1.27 — while the
    shared-exchange form stays streaming.) The explicit
    ``isnotnull(b)`` matches the null-filter the scoring join infers on
    its key — without it Catalyst pushes that filter below the
    scoring-side aggregate only, the subtrees stop being canonically
    equal, and the exchange is NOT reused (two corpus scans).
    ``b = pmod(h, n_buckets)`` is never null, so the filter is a no-op
    semantically."""
    base = df.filter(F.col(id_col).isNotNull()).withColumn(
        "__t", F.coalesce(target_pred, F.lit(False))
    )
    cdb = _dsir_bucket_counts(
        base, id_col, text_col, n_buckets, k, carry=("__t",)
    ).filter(F.col("b").isNotNull())
    bt = cdb.groupBy("b").agg(
        F.sum(F.when(F.col("__t"), F.col("c")).otherwise(F.lit(0))).alias("tp"),
        F.sum(F.when(~F.col("__t"), F.col("c")).otherwise(F.lit(0))).alias("tq"),
    )
    return cdb, bt


def _dsir_log_ratios(bt: DataFrame, n_buckets: int) -> DataFrame:
    """(b, lw256) from a (b, tp, tq) bucket-distribution table:
    add-one smoothing + the quantized-log2 difference. Grand totals
    ride an unpartitioned window over the ≤n_buckets-row frame (the
    repo's tiny-frame pattern, never applied at data grain)."""
    w_all = Window.partitionBy()
    btt = bt.select(
        "b",
        (F.col("tp") + 1).alias("tp1"),
        (F.col("tq") + 1).alias("tq1"),
        (F.sum("tp").over(w_all) + n_buckets).alias("tpn"),
        (F.sum("tq").over(w_all) + n_buckets).alias("tqn"),
    )
    return btt.select(
        "b",
        (
            _qlog2_col("tp1") - _qlog2_col("tpn")
            - _qlog2_col("tq1") + _qlog2_col("tqn")
        ).cast("long").alias("lw256"),
    )


def _dsir_score_buckets(cdb: DataFrame, lw: DataFrame) -> DataFrame:
    """(id, n_grams, logw256, logw_bits) from per-doc bucket counts ×
    the broadcast log-ratio table — one join + one groupBy."""
    return (
        cdb.join(F.broadcast(lw), "b")
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.col("c") * F.col("lw256")).alias("logw256"),
        )
        .select(
            "id",
            "n_grams",
            "logw256",
            (F.col("logw256").cast("double") / F.lit(256.0)).alias("logw_bits"),
        )
    )


def dsir_gumbel_topk(
    weights: DataFrame,
    k_select: int,
    id_col: str = "id",
    logw_col: str = "logw256",
    salt: str = "dsir1",
) -> DataFrame:
    """Gumbel top-k resampling over DSIR log-weights — exact-integer.

    Gumbel-max: sampling k docs without replacement with probability
    ∝ w_d is equivalent to taking the top-k of ``ln w_d + g_d`` with
    g_d ~ Gumbel(0,1). In log2 units that key is the monotone
    transform ``log2 w_d + (-log2(-log2 u_d))`` (dividing by ln 2 and
    shifting by log2(ln 2) preserves the top-k set), so the whole
    draw stays in the repo's quantized-log2 fixed point:

    - ``u_d`` = 20-bit md5 prefix of ``salt:id`` + 1 ∈ [1, 2^20] —
      the repo's deterministic uniform (new salt ⇒ fresh draw).
    - ``e_d = max(20·256 - qlog2(u_d), 1)`` ≈ 256·(-log2(u_d/2^20)).
    - ``gkey256_d = logw256_d + 8·256 - qlog2(e_d)``
      ≈ 256·(log2 w_d - log2(e_d/256)).

    Top-k by ``(gkey256 DESC, id)`` — TakeOrderedAndProject, never a
    global sort; ties at the cutoff break deterministically. Every
    quantity is BIGINT, so selection is bit-reproducible across
    engines/executors/retries — the property float Gumbel noise
    (transcendental libm) cannot give.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
                1,
                _DSIR_U_BITS // 4,
            ),
            16,
            10,
        ).cast("long")
        + 1
    )
    keyed = weights.select(
        F.col(id_col).alias("id"), F.col(logw_col).alias("logw256"), u.alias("__u")
    ).withColumn(
        "__e",
        F.greatest(
            F.lit(_DSIR_U_BITS * _DSIR_MANT) - _qlog2_col("__u"), F.lit(1)
        ).cast("long"),
    )
    return (
        keyed.select(
            "id",
            "logw256",
            (F.col("logw256") + F.lit(8 * _DSIR_MANT) - _qlog2_col("__e"))
            .cast("long")
            .alias("gkey256"),
        )
        .orderBy(F.desc("gkey256"), "id")
        .limit(int(k_select))
    )


# --- persisted / incremental DSIR index (round 12) ---------------------------
#
# The bucket-distribution state (b, tp, tq) is ADDITIVE in documents,
# so DSIR gets the same persist/append/score lifecycle as the LSH,
# IVF and LM indexes: at daily cadence over 100 TB the raw
# pool is never re-featurized to score a new shard — the ≤n_buckets
# count table persists, shards fold their counts in, and scoring
# reads one tiny parquet table. Build and append derive that table
# from the same _dsir_bucket_table state as the in-plan scorer, and
# each replaces it in one commit. Same durability discipline as
# operators/lm.lm_index_build: the one count table commits first, the
# shared ``<path>/meta`` (sources/io.write_meta) LAST, meta-absent
# reads as "no index".


def dsir_index_build(
    df: DataFrame,
    target_pred: F.Column,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    k: int = 3,
) -> None:
    """Persist the DSIR distribution state: ``<path>/buckets``
    (b, tp, tq) + ``<path>/meta`` (featurizer contract, written LAST
    so a torn build reads as no-index). One corpus pass; the stored
    table is ≤ n_buckets rows no matter the corpus size."""
    spark = df.sparkSession
    _, bt = _dsir_bucket_table(df, target_pred, id_col, text_col, n_buckets, k)
    replace_table(spark, bt, f"{path}/buckets")
    write_meta(
        spark,
        path,
        {"featurizer": "char3_poly31_alnum", "n_buckets": n_buckets, "k": k},
    )


def dsir_index_read(spark, path: str) -> tuple[DataFrame, dict]:
    """(bucket table, meta) — raises if never committed: a missing
    distribution must surface loudly, not as an all-zero prior that
    weights every doc identically."""
    meta = read_meta(spark, path)
    if meta is None:
        raise ValueError(
            f"no committed DSIR index at {path} (meta absent) — run "
            "dsir_index_build first"
        )
    return spark.read.parquet(f"{path}/buckets"), meta


def dsir_index_append(
    df: DataFrame,
    target_pred: F.Column,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Fold a new shard's bucket counts into the persisted
    distributions WITHOUT re-featurizing the pool: counts are
    additive, so the merge is one per-bucket summed union (shard scan
    + a ≤n_buckets-row merge), replacing the table in one commit
    (:func:`..sources.io.replace_table`). Incremental ==
    full, exactly — merged counts are bit-identical to building on
    corpus ∪ shard, which the registry pins by hashing the appended
    index against an oracle that refeaturizes from scratch. Re-running
    the SAME append doubles counts (the LM/LSH posture: recovery is a
    rebuild); meta stays untouched."""
    spark = df.sparkSession
    recover(spark, f"{path}/buckets")
    bt0, meta = dsir_index_read(spark, path)
    _, bt1 = _dsir_bucket_table(
        df, target_pred, id_col, text_col, int(meta["n_buckets"]), int(meta["k"])
    )
    merged = (
        bt0.unionByName(bt1)
        .groupBy("b")
        .agg(F.sum("tp").alias("tp"), F.sum("tq").alias("tq"))
    )
    replace_table(spark, merged, f"{path}/buckets")


def dsir_score_from_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents against the PERSISTED distributions — the
    daily read path: featurize only the docs being scored (one scan +
    one groupBy), read the ≤n_buckets-row table, broadcast-join the
    log-ratios, one per-doc sum. No pool scan anywhere in the plan.
    Output schema and arithmetic identical to
    :func:`dsir_importance_weights` (both route through
    :func:`_dsir_log_ratios` / :func:`_dsir_score_buckets`)."""
    spark = docs.sparkSession
    bt, meta = dsir_index_read(spark, path)
    base = docs.filter(F.col(id_col).isNotNull())
    cdb = _dsir_bucket_counts(
        base, id_col, text_col, int(meta["n_buckets"]), int(meta["k"])
    )
    return _dsir_score_buckets(cdb, _dsir_log_ratios(bt, int(meta["n_buckets"])))
