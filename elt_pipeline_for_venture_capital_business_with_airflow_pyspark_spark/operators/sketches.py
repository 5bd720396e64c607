"""Mergeable sketches: HLL distinct-count and KLL quantile partials.

The 100 TB aggregation problem the reference never faces (its
profiling SQL recounts whole tables per run,
dags/data_profiling/query/data_profiling_function.sql:37): you cannot
afford to rescan history to answer "distinct users this quarter".
Sketches make the partial aggregates ALGEBRAIC — a per-day (or
per-partition) sketch is a few KB, unions are associative and
order-insensitive, so daily rollups merge into monthly/quarterly
answers without touching the raw data again. Spark 4 ships Apache
DataSketches natively (`hll_sketch_agg`, `hll_union_agg`,
`kll_sketch_agg_*`) — JVM-side, codegen-friendly, no UDF.

Key algebraic property (pinned in tests/test_sketches.py): an HLL
sketch's state is a per-bucket MAX of hashed-value rhos, so the union
of per-slice sketches is BIT-IDENTICAL in estimate to the sketch of
the whole — merge-of-partials == agg-of-whole, exactly the contract
incremental materialized views need. KLL merges are estimate-stable
within the sketch's rank-error bound rather than bit-exact.

The HLL/KLL estimators are deliberately NOT registered as
DuckDB-oracle queries (the estimate is engine-internal); exactness is
instead asserted against Spark's own exact aggregates in pytest. The
count-min sketch (round 6) is the exception: its state is md5-derived
and fully ANSI-SQL-expressible, so `sketch_countmin_topk` carries a
real hash-checked oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import dedup_keep_first

__all__ = [
    "hll_partials",
    "hll_rollup",
    "kll_quantile_partials",
    "kll_quantile_rollup",
    "hll_det_registers",
    "hll_det_estimate",
    "hll_det_rollup",
    "kmv_state",
    "kmv_estimate",
    "kmv_union",
    "kmv_setop_estimate",
    "countmin_build",
    "countmin_estimate",
    "bloom_build",
    "bloom_probe",
    "freq_sample",
    "join_cardinality_estimate",
    "hll_det_sliding",
    "build_hll_index",
    "hll_index_window_estimate",
    "row_sample_bottomk",
    "quantile_from_sample",
]


def hll_partials(
    df: DataFrame,
    slice_cols: list[str],
    group_cols: list[str],
    value_col: str,
    *,
    lg_k: int = 12,
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """Per-(slice × group) HLL sketch of distinct ``value_col`` — the
    persistable daily partial. ``slice_cols`` is the rollup axis that
    later merges away (e.g. the day); ``group_cols`` survive into the
    final answer (e.g. the segment). One shuffle; each output row
    carries a ≤(2^lg_k)-byte binary sketch instead of a distinct set.
    """
    return df.groupBy(*slice_cols, *group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias(sketch_col)
    )


def hll_rollup(
    partials: DataFrame,
    group_cols: list[str],
    *,
    sketch_col: str = "hll_sketch",
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Merge per-slice sketches up to ``group_cols`` and estimate.
    The input is the KB-scale partials table, never the raw data — a
    quarter's distinct count costs a scan of ~90 sketch rows per
    group. Union is associative/commutative, so any rollup lattice
    (day→week→month) composes from the same partials.
    """
    return partials.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col(sketch_col), F.lit(False))
        ).alias(out_col)
    )


def kll_quantile_partials(
    df: DataFrame,
    slice_cols: list[str],
    group_cols: list[str],
    value_col: str,
    *,
    k: int = 200,
    sketch_col: str = "kll_sketch",
) -> DataFrame:
    """Per-(slice × group) KLL quantile sketch over a double column —
    the mergeable replacement for exact percentiles once a single
    pass over history stops being affordable. k=200 gives ~1.65%
    one-sided rank error (DataSketches default)."""
    return df.groupBy(*slice_cols, *group_cols).agg(
        F.kll_sketch_agg_double(
            F.col(value_col).cast("double"), F.lit(k)
        ).alias(sketch_col)
    )


def kll_quantile_rollup(
    partials: DataFrame,
    group_cols: list[str],
    quantiles: list[float],
    *,
    sketch_col: str = "kll_sketch",
) -> DataFrame:
    """Merge per-slice KLL sketches and read off quantile estimates
    (one output column per requested quantile: ``q50``, ``q95``, …).
    Rank error is the sketch's, not the merge's — merging does not
    compound it beyond the published bound.

    Spark exposes KLL merge only pairwise (`kll_sketch_merge_double`),
    so the per-group merge is a fold over the collected partials list
    — fine here because the fold runs over the KB-scale sketch rows
    (one per slice), never the raw data."""
    lst = F.collect_list(F.col(sketch_col))
    merged = partials.groupBy(*group_cols).agg(lst.alias("_lst")).select(
        *group_cols,
        F.aggregate(
            F.slice(
                F.col("_lst"), 2, F.greatest(F.size("_lst") - 1, F.lit(0))
            ),
            F.element_at(F.col("_lst"), 1),
            lambda acc, x: F.kll_sketch_merge_double(acc, x),
        ).alias("_m"),
    )
    cols = [
        F.kll_sketch_get_quantile_double(F.col("_m"), F.lit(q)).alias(
            f"q{int(q * 100)}"
        )
        for q in quantiles
    ]
    return merged.select(*group_cols, *cols)


# ---------------------------------------------------------------------------
# Deterministic sketches (round 6) — unlike the DataSketches HLL/KLL
# above, these are built from the repo's cross-engine md5 idiom, so
# their whole state (and therefore every estimate) is DETERMINISTIC
# and ANSI-SQL-expressible: the registry entries (`sketch_countmin_
# topk`, `sketch_hll_deterministic`, `sketch_hll_rollup`,
# `sketch_kmv_setops`) hash-check the estimates against DuckDB
# oracles bit-for-bit — sketches with real oracles, not just pytest
# accuracy bounds.
# ---------------------------------------------------------------------------


def hll_det_registers(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    *,
    m: int = 64,
) -> DataFrame:
    """Deterministic HyperLogLog register table — the oracle-checkable
    sibling of :func:`hll_partials` (whose DataSketches state is
    engine-internal): per group and bucket ``j = md5_32(key) % m``,
    the register is ``max(rho)`` where rho is 1 + the number of
    leading zeros of the hash's remaining 26 bits (Flajolet et al.'s
    estimator, computed with string ops on ``bin()`` — no log/pow, so
    Spark and an ANSI-SQL replica agree bit-for-bit).

    Mergeable the HLL way: registers of disjoint slices combine by
    per-bucket MAX into exactly the whole's registers (pinned in
    tests/test_sketches.py). One shuffle; ≤ m rows per group."""
    if m & (m - 1) or m < 2:
        raise ValueError("m must be a power of two >= 2")
    pane = 32 - (m.bit_length() - 1)  # bits left of the hash after bucketing
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    # h < 2^32 ⇒ h div m < 2^pane: rho scans a fixed pane-bit window
    pos = F.instr(F.lpad(F.bin(F.expr(f"__h div {m}")), pane, "0"), "1")
    rho = F.when(pos == 0, F.lit(pane + 1)).otherwise(pos)
    return (
        df.select(*group_cols, h.alias("__h"))
        .withColumn("bucket", F.pmod(F.col("__h"), F.lit(m)))
        .withColumn("__rho", rho)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("__rho").alias("r"))
    )


def hll_det_estimate(
    registers: DataFrame,
    group_cols: list[str],
    *,
    m: int = 64,
    out_col: str = "hll_raw_est",
) -> DataFrame:
    """Raw HLL estimate from a :func:`hll_det_registers` table, in
    EXACT integer arithmetic until the single final division: the
    harmonic-mean denominator Σ 2^-r is scaled by 2^27 so every term
    (absent buckets contribute r=0 ⇒ 2^27) is an exact BIGINT — the
    sum stays < m·2^27 ≪ 2^63 — and the estimate
    ``alpha_m·m²·2^27 / S`` is one IEEE division of exact operands,
    identical on any engine. No bias/small-range correction (those
    need log; this estimator's contract is determinism — use the
    DataSketches path when you want HLL++ accuracy), so accuracy is
    pinned in pytest, cross-engine equality in the registry oracle."""
    if m & (m - 1) or m < 2:
        raise ValueError("m must be a power of two >= 2")
    # Flajolet et al.'s alpha_m bias constant DEPENDS on m: 0.673 for
    # m=16 (and the sub-16 sizes this determinism-first estimator
    # still accepts), 0.697 for 32, 0.709 for 64, and the closed form
    # 0.7213/(1+1.079/m) for larger registers. A single hardcoded
    # 0.709 is only unbiased at m=64 — every registry oracle embeds
    # the matching literal for its m, so the constant must track m
    # here too.
    if m <= 16:
        alpha = 0.673
    elif m == 32:
        alpha = 0.697
    elif m == 64:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1 + 1.079 / m)
    top = 32 - (m.bit_length() - 1) + 1  # rho_max; scale factor 2^top
    n_present = F.count(F.lit(1))
    s_present = F.sum(F.expr(f"shiftleft(cast(1 as bigint), {top} - r)"))
    return (
        registers.groupBy(*group_cols)
        .agg(
            (s_present + (F.lit(m) - n_present) * F.lit(1 << top)).alias(
                "register_sum"
            ),
            (F.lit(m) - n_present).cast("bigint").alias("zero_registers"),
        )
        .withColumn(
            out_col,
            F.lit(float(alpha * m * m * (1 << top))) / F.col("register_sum"),
        )
    )


def hll_det_rollup(
    registers: DataFrame,
    to_group_cols: list[str],
) -> DataFrame:
    """Roll a :func:`hll_det_registers` table up a grouping lattice
    (day→month→quarter): per-bucket MAX of the finer registers IS the
    coarser level's register table, bit-for-bit (the HLL merge law,
    pinned in tests/test_sketches.py) — so monthly distinct counts
    derive from the KB-scale daily register table without ever
    rescanning raw data, the same continuous-aggregate contract as
    :func:`hll_rollup` but with fully oracle-checkable state.
    ``to_group_cols`` must be a prefix/subset of the grouping the
    registers were built with (minus the axis being merged away)."""
    return registers.groupBy(*to_group_cols, "bucket").agg(
        F.max("r").alias("r")
    )


def kmv_state(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    *,
    k: int = 64,
) -> DataFrame:
    """KMV (k-minimum-values / bottom-k theta) distinct-count sketch
    state: per group, the ``k`` smallest DISTINCT 32-bit md5 hash
    values of ``key_col`` — rows ``(group…, hv)``, ≤ k per group.

    Unlike HLL registers, a KMV state supports SET OPERATIONS
    (union/intersection estimates, :func:`kmv_union` /
    :func:`kmv_setop_estimate`) because the state is an actual hash
    sample: the bottom-k of a union is computable from the bottom-ks
    of the parts (merge law pinned in tests/test_sketches.py).

    Determinism: the state is md5-derived integers picked by a total
    order — no RNG, no platform hash — so a DuckDB replica (DISTINCT
    + ROW_NUMBER over the same md5 prefix) yields the identical
    state. Two shuffles: the hash distinct and the per-group sort;
    both keyed on the group columns → uniform unless a group is
    itself skew-hot, in which case pre-aggregate per (group, salt)
    bottom-k and re-rank (same merge law)."""
    if k < 2:
        raise ValueError("k must be >= 2")
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    hv = df.select(*group_cols, h.alias("hv")).distinct()
    return dedup_keep_first(hv, group_cols, ["hv"], k)


def kmv_estimate(
    state: DataFrame,
    group_cols: list[str],
    *,
    k: int = 64,
    out_col: str = "kmv_est",
) -> DataFrame:
    """Distinct-count estimate from a :func:`kmv_state`: exact when
    the group holds fewer than ``k`` distinct hashes (the state IS
    the distinct set), else the classic unbiased KMV estimator
    ``(k-1)·2^32 / h_(k)`` with ``h_(k)`` the k-th smallest hash —
    exact BIGINT operands, one final IEEE division, identical on any
    engine. RSE ≈ 1/√(k-2)."""
    return state.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"), F.max("hv").alias("__kth")
    ).select(
        *group_cols,
        F.when(F.col("__n") < k, F.col("__n").cast("double"))
        .otherwise(
            F.lit(float((k - 1) * 4294967296)) / F.col("__kth")
        )
        .alias(out_col),
        F.col("__n").alias("state_n"),
    )


def kmv_union(
    state_a: DataFrame,
    state_b: DataFrame,
    group_cols: list[str],
    *,
    k: int = 64,
) -> DataFrame:
    """Union of two KMV states: the bottom-k of the merged distinct
    hash sets — estimating the union's cardinality without touching
    either side's raw data. Closed under composition: the result is
    itself a valid :func:`kmv_state`."""
    merged = state_a.unionByName(state_b).distinct()
    return dedup_keep_first(merged, group_cols, ["hv"], k)


def kmv_setop_estimate(
    state_a: DataFrame,
    state_b: DataFrame,
    group_cols: list[str],
    *,
    k: int = 64,
) -> DataFrame:
    """Union AND intersection cardinality estimates per group from two
    KMV states (Beyer et al.'s KMV set-operation estimators): with
    ``U`` the union state (bottom-k of the merge), the intersection
    estimate is ``|U ∩ A ∩ B| · est(U) / |U|`` — the fraction of the
    union's uniform hash sample present in both sides, scaled by the
    union estimate. All counts are exact integers; the only floats
    are est(U) (one division) and the final scale (one multiply, one
    divide, fixed left-assoc order so any engine reproduces it
    bit-for-bit). Exact (collision-modulo) when the union fits in k.
    """
    u = kmv_union(state_a, state_b, group_cols, k=k)
    in_both = (
        u.join(state_a, [*group_cols, "hv"], "left_semi")
        .join(state_b, [*group_cols, "hv"], "left_semi")
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("n_and"))
    )
    est_u = kmv_estimate(u, group_cols, k=k, out_col="est_union")
    return (
        est_u.join(in_both, group_cols, "left")
        .select(
            *group_cols,
            "est_union",
            (
                F.coalesce(F.col("n_and"), F.lit(0))
                * F.col("est_union")
                / F.col("state_n")
            ).alias("est_intersect"),
        )
    )


def _cm_bucket(key: F.Column, d: F.Column, width: int) -> F.Column:
    """Row-``d`` bucket for a key: 32-bit md5 prefix of ``d:key`` mod
    width — the same exact-integer hash family as
    sampling.weighted_bernoulli_sample (DuckDB twin:
    ``CAST('0x'||substr(md5(d||':'||key),1,8) AS BIGINT) % width``)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(d.cast("string"), F.lit(":"), key.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(width))


def countmin_build(
    df: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Build a count-min sketch of ``key_col`` frequencies:
    ``depth × width`` counters as rows ``(d, bucket, cnt)``.

    One scan (the depth axis is an exploded literal array, not
    ``depth`` passes) and one shuffle (the counter groupBy). The
    counter table is ``depth·width`` rows — KB-scale state for any
    input size, and MERGEABLE: sketches of disjoint slices sum
    counter-wise to the sketch of the union (pinned in
    tests/test_sketches.py), so per-day partials roll up without
    revisiting raw data, the same contract as :func:`hll_partials`.

    Cross-engine determinism: the counter values are plain COUNTs
    under md5-derived bucketing — no RNG, no platform-dependent hash —
    so a DuckDB replica of this SQL yields the identical counter
    table."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be positive")
    # pre-aggregate to per-KEY counts before hashing: the md5 bucket
    # is a function of (d, key), so hashing rows costs rows×depth
    # md5s while hashing keys costs distinct_keys×depth (600k rows ×4
    # → 1k suppliers ×4 at sf0.1 — a sketch exists precisely because
    # keys repeat). Counter values are identical: SUM of per-key
    # counts per bucket == COUNT of rows per bucket.
    d = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d")
    counts = (
        df.select(F.col(key_col).alias("__k"))
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        counts.select("__k", "__n", d)
        .groupBy("d", _cm_bucket(F.col("__k"), F.col("d"), width).alias("bucket"))
        .agg(F.sum("__n").alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 256,
    out_col: str = "est_cnt",
) -> DataFrame:
    """Point-estimate frequencies for ``keys`` from a
    :func:`countmin_build` sketch: min over the key's ``depth``
    counters (the classic CM guarantee: estimate ≥ true count, with
    overestimate ≤ εN at probability 1-δ for width=e/ε, depth=ln 1/δ).

    The sketch side is KB-scale, so it is BROADCAST onto the keys —
    estimating any number of keys is a map-side join, no shuffle of
    the key frame; a missing counter row can only mean count 0 and
    coalesces accordingly."""
    d = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d")
    expanded = keys.select(F.col(key_col), d).withColumn(
        "bucket", _cm_bucket(F.col(key_col), F.col("d"), width)
    )
    return (
        expanded.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(out_col))
    )


def _bloom_pos(key: F.Column, i: F.Column, m_bits: int) -> F.Column:
    """Bit position i-th hash of a key: the countmin md5 family
    (`_cm_bucket`) mod ``m_bits`` — exact-integer, DuckDB-replicable."""
    return _cm_bucket(key, i, m_bits)


def bloom_build(
    df: DataFrame,
    key_col: str,
    *,
    m_bits: int = 4096,
    k: int = 5,
) -> DataFrame:
    """Deterministic Bloom filter over ``key_col``: ``m_bits`` bits
    packed 32-per-BIGINT as rows ``(chunk, bits)`` — ≤ m_bits/32 rows
    of KB-scale state regardless of input size, built in ONE hash
    aggregation (bit_or is commutative/associative, so the bitmap
    combines map-side and unions across slices by the same bit_or —
    the mergeability law pinned in tests).

    This is the join-PRUNING sketch: build over the join keys of a
    filtered dimension, broadcast the bitmap, and drop non-candidate
    fact rows at the SCAN, before the shuffle — the pattern Spark's
    own runtime row-level filtering (spark.sql.optimizer.runtime.
    bloomFilter.enabled) automates for equi-joins, exposed here as an
    explicit, engine-portable operator (:func:`bloom_probe`). False
    positive rate ≈ (1 - e^{-kn/m})^k; no false negatives, pinned in
    tests and in the registry oracle's ``no_false_negatives`` bit.

    Determinism: positions are 32-bit md5 prefixes (the countmin
    family) mod ``m_bits``; chunks pack 32 bits so masks stay far from
    the BIGINT sign bit — both engines shift in pure positive range.
    """
    if m_bits % 32 != 0:
        raise ValueError("m_bits must be a multiple of 32")
    if k < 1:
        raise ValueError("k must be >= 1")
    i = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i")
    pos = _bloom_pos(F.col(key_col), F.col("i"), m_bits)
    return (
        df.select(F.col(key_col), i)
        .select(
            (pos / 32).cast("int").alias("chunk"),
            F.pow(F.lit(2.0), (pos % 32).cast("int")).cast("bigint").alias(
                "mask"
            ),
        )
        .groupBy("chunk")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(
    bloom: DataFrame,
    probes: DataFrame,
    key_col: str,
    *,
    m_bits: int = 4096,
    k: int = 5,
) -> DataFrame:
    """Membership test of ``probes[key_col]`` against a
    :func:`bloom_build` bitmap: adds ``might_contain`` (true ⇒ the key
    MAY be in the build set; false ⇒ definitely not). The bitmap is
    broadcast (≤ m_bits/32 rows), so probing any number of rows is a
    map-side join + bit test per hash — no shuffle of the probe frame,
    which is exactly why this prunes a 100-TB fact scan: the filter
    runs where the data already is, and only surviving candidates pay
    the real join's exchange."""
    i = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i")
    pos = _bloom_pos(F.col(key_col), F.col("i"), m_bits)
    expanded = probes.select(F.col(key_col), i).select(
        key_col,
        (pos / 32).cast("int").alias("chunk"),
        F.pow(F.lit(2.0), (pos % 32).cast("int")).cast("bigint").alias(
            "mask"
        ),
    )
    hit = (
        F.col("bits").isNotNull()
        & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"))
    ).cast("int")
    return (
        expanded.join(F.broadcast(bloom), "chunk", "left")
        .groupBy(key_col)
        .agg((F.sum(hit) == k).alias("might_contain"))
    )


def _key_hash(key_col: str) -> F.Column:
    """32-bit md5 prefix of a key — the repo's cross-engine hash."""
    return F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")


def freq_sample(
    df: DataFrame,
    key_col: str,
    *,
    k: int = 256,
) -> DataFrame:
    """Bottom-k *frequency* sample of a key column: the ``k`` distinct
    keys with the smallest 32-bit md5 hashes, each carrying its EXACT
    row count — a KMV state enriched with multiplicities (rows
    ``(key, hv, cnt)``). One groupBy (count per key, map-combinable)
    + one KB-scale top-k; the sample is a uniform hash sample of the
    key domain, so per-key aggregates over it extrapolate unbiasedly.
    Used by :func:`join_cardinality_estimate`; the state is exact and
    ANSI-SQL-expressible, hence oracle-checkable."""
    if k < 2:
        raise ValueError("k must be >= 2")
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    # orderBy().limit() compiles to TakeOrderedAndProject — a
    # distributed top-k (per-partition heads merged on the driver), not
    # the single-partition row_number shuffle a window would force on
    # the full key domain; hash ties broken by the key for determinism
    return (
        counts.withColumn("hv", _key_hash(key_col))
        .orderBy("hv", key_col)
        .limit(k)
    )


def merge_freq_samples(
    samples: "list[DataFrame]",
    key_col: str,
    *,
    k: int = 256,
) -> DataFrame:
    """Merge :func:`freq_sample` states from DISJOINT slices of a feed
    into the state of their union — EXACTLY (pinned in tests):
    per-key counts add (each slice's count is exact for that slice),
    the hash rides the key unchanged, and re-truncating to the ``k``
    smallest hashes is the union's own bottom-k because membership is
    a pure function of the key hash: any key inside the union's
    bottom-k has fewer than ``k`` union keys hashing below it, hence
    fewer in every slice it appears in — so every slice retained it
    and no count is lost. Iterated merging (a streaming foreachBatch
    folding batch samples into a persisted state) therefore equals
    the one-shot sample over the whole feed bit-for-bit — the
    continuously-maintained join statistic
    (:func:`join_cardinality_estimate`) a long-running pipeline
    consults before paying for a shuffle."""
    if not samples:
        raise ValueError("samples must be non-empty")
    if k < 2:
        raise ValueError("k must be >= 2")
    unioned = samples[0]
    for s in samples[1:]:
        unioned = unioned.unionByName(s)
    return (
        unioned.groupBy(key_col, "hv")
        .agg(F.sum("cnt").alias("cnt"))
        .select(key_col, "cnt", "hv")
        .orderBy("hv", key_col)
        .limit(k)
    )


def join_cardinality_estimate(
    sample_a: DataFrame,
    sample_b: DataFrame,
    key_a: str,
    key_b: str,
    *,
    k: int = 256,
) -> DataFrame:
    """Estimate |A ⋈ B| on a key WITHOUT running the join — correlated
    bottom-k sampling (Vengerov et al., VLDB'15): because both sides
    sample keys by the SAME hash, the samples align on the same key
    subset, so Σ cntA·cntB over the shared sampled region scaled by
    1/p is unbiased — the planner statistic that decides broadcast vs
    shuffle vs pre-aggregation before paying for a 100-TB join.

    τ = min(kth hash of A, kth hash of B) defines the sampled region
    h < τ (each side's bottom-k is complete below its own kth hash,
    so the intersection region is complete below τ); p = τ / 2³²;
    estimate = Σ_{h<τ} cntA·cntB / p. When either side has < k
    distinct keys its τ side is 2³² and the region is its WHOLE key
    set — the estimate degrades gracefully toward exact (exactly
    exact when both fit). All arithmetic before the final division is
    exact BIGINT; one IEEE division ⇒ oracle hash-parity.

    Output: ALWAYS exactly one row (tau, p, n_sampled_pairs,
    sum_pairs, est_join) — when no sampled keys are shared below tau
    the row carries n_sampled_pairs=0, sum_pairs=0, est_join=0.0
    rather than vanishing, so consumers that join on the result never
    silently drop the disjoint-keys case. Both inputs are KB-scale
    states; everything here is driver-light metadata math executed as
    a tiny Spark plan."""
    ka = sample_a.select(
        F.col(key_a).alias("__k"), F.col("hv"), F.col("cnt").alias("cnt_a")
    )
    kb = sample_b.select(
        F.col(key_b).alias("__k"), F.col("hv"), F.col("cnt").alias("cnt_b")
    )
    two32 = F.lit(4294967296)
    tau_a = ka.agg(
        F.when(F.count(F.lit(1)) >= k, F.max("hv")).otherwise(two32).alias("t")
    )
    tau_b = kb.agg(
        F.when(F.count(F.lit(1)) >= k, F.max("hv")).otherwise(two32).alias("t")
    )
    tau = (
        tau_a.crossJoin(tau_b.withColumnRenamed("t", "t2"))
        .select(F.least("t", "t2").alias("tau"))
    )
    joined = (
        ka.join(kb, ["__k", "hv"])
        .crossJoin(F.broadcast(tau))
        .filter(F.col("hv") < F.col("tau"))
    )
    # global agg (not groupBy tau): an empty sampled region still
    # yields one row (count 0, sum NULL→0); tau rides back in via the
    # one-row cross so the single-row contract holds in every regime
    agg = joined.agg(
        F.count(F.lit(1)).alias("n_sampled_pairs"),
        F.coalesce(
            F.sum(F.col("cnt_a") * F.col("cnt_b")), F.lit(0).cast("bigint")
        ).alias("sum_pairs"),
    )
    return tau.crossJoin(agg).select(
        "tau",
        (F.col("tau").cast("double") / F.lit(4294967296.0)).alias("p"),
        "n_sampled_pairs",
        "sum_pairs",
        (
            F.col("sum_pairs").cast("double")
            / (F.col("tau").cast("double") / F.lit(4294967296.0))
        ).alias("est_join"),
    )


def hll_det_sliding(
    registers: DataFrame,
    group_cols: list[str],
    day_col: str,
    *,
    window_days: int = 7,
) -> DataFrame:
    """Sliding-window register merge: from a DAILY
    :func:`hll_det_registers` table (built with the day in its group
    columns), the merged register table for every trailing
    ``window_days`` window — each daily register row is exploded to
    the ≤``window_days`` output days it participates in (a bounded
    map-side explode), then one per-(group, day, bucket) MAX. The
    sliding version of :func:`hll_det_rollup`'s lattice merge: "7-day
    distinct users, every day" from KB-scale daily state, never
    rescanning raw data — the window shape a naive window function
    CANNOT produce (a range frame only fires on existing rows; the
    explode materializes every window a register influences).

    Output grain: (group…, day, bucket, r) for every day any register
    in the trailing window exists. Feed to :func:`hll_det_estimate`
    grouped by (group…, day)."""
    if window_days < 1:
        raise ValueError("window_days must be >= 1")
    out_day = F.date_add(
        F.col(day_col), F.col("__off")
    )
    return (
        registers.withColumn(
            "__off", F.explode(F.sequence(F.lit(0), F.lit(window_days - 1)))
        )
        .select(
            *group_cols,
            out_day.alias(day_col),
            F.col("bucket"),
            F.col("r"),
        )
        .groupBy(*group_cols, day_col, "bucket")
        .agg(F.max("r").alias("r"))
    )


def build_hll_index(
    df: DataFrame,
    path: str,
    key_col: str,
    day_col: str = "day",
    *,
    m: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist daily HLL register tables at ``<path>/registers``,
    ``partitionBy(day)`` — the continuous-aggregate state a
    distinct-count pipeline carries between runs (the sketch-family
    sibling of ``dedup.build_lsh_index``). Each day's registers are ≤
    ``m`` rows of exact integers; a year of corpus is ~365·m rows of
    KB-scale parquet, and any day-range question is a
    partition-pruned read + per-bucket MAX (:func:`hll_index_window_
    estimate`) — the raw data is never rescanned.

    ``mode="append"`` adds one day's shard: because the partition key
    IS the append unit, each append lands entirely inside its own new
    ``day=…`` directory — unlike the band-partitioned LSH index (one
    small file per band per day, needing compact_lsh_index), this
    layout never accrues small files across days, so no compaction
    hook is needed. Append-day == rebuild-whole equality is pinned in
    tests/test_sketches.py. Re-appending the same day is NOT
    idempotent (duplicate register rows would still MAX correctly but
    double storage); the caller keys appends by day, same
    at-the-source contract as the LSH daily shard."""
    regs = hll_det_registers(df, key_col, [day_col], m=m)
    regs.write.mode(mode).partitionBy(day_col).parquet(f"{path}/registers")


def hll_index_window_estimate(
    spark,
    path: str,
    day_col: str,
    start,
    end,
    *,
    m: int = 64,
) -> DataFrame:
    """Distinct-count estimate for day range [start, end] from a
    persisted :func:`build_hll_index` — a partition-PRUNED scan of
    just the window's ``day=…`` directories (unselected days are
    never listed), one per-bucket MAX, one estimate row. The index
    answers any window at the cost of (window_days × m) rows,
    independent of raw-data size — the query shape that replaces
    recounting history at 100 TB."""
    # a register table built from an EMPTY corpus has no day=…
    # partition directories at all; read_partitioned answers that ONE
    # case with an empty register frame, every other failure propagates
    from ..sources.io import read_partitioned

    regs = read_partitioned(
        spark, f"{path}/registers", day_col,
        f"bucket bigint, r int, `{day_col}` string",
    ).filter((F.col(day_col) >= F.lit(start)) & (F.col(day_col) <= F.lit(end)))
    merged = regs.groupBy("bucket").agg(F.max("r").alias("r"))
    return hll_det_estimate(merged, [], m=m)


def row_sample_bottomk(
    df: DataFrame,
    id_col: str,
    cols: list[str],
    *,
    k: int = 512,
) -> DataFrame:
    """Deterministic uniform row sample: the ``k`` rows whose unique
    ids hash smallest (32-bit md5) — a fixed-size sample that is (a)
    REPRODUCIBLE on any engine/retry (no RNG), (b) MERGEABLE: the
    bottom-k of a union equals the bottom-k of the parts' bottom-ks
    (pinned in tests), so per-partition / per-day samples compose
    without touching raw data again, and (c) a TakeOrderedAndProject
    plan — per-partition heads, no global shuffle.

    This is the repo's sampling answer to quantile sketching: exact
    quantiles OF the sample estimate population quantiles with the
    standard √k error, and because the sample itself is deterministic
    the whole estimate is oracle-checkable — unlike KLL, whose state
    is engine-internal (see :func:`quantile_from_sample`)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    return (
        df.select(F.col(id_col), *cols)
        .withColumn("hv", _key_hash(id_col))
        .orderBy("hv", id_col)
        .limit(k)
    )


def quantile_from_sample(
    sample: DataFrame,
    value_col: str,
    quantiles: list[float],
) -> DataFrame:
    """Discrete quantile estimates from a :func:`row_sample_bottomk`
    frame: one row per requested quantile, ``percentile_disc``
    semantics (the smallest sampled value whose rank fraction ≥ q —
    value-exact and engine-portable, no interpolation arithmetic).
    Error vs the population quantile is the sample's rank error
    (RSE ≈ √(q(1-q)/k)), audited in the registry entry against the
    exact population quantiles."""
    qs = sorted(set(float(q) for q in quantiles))
    if not qs or any(q <= 0 or q > 1 for q in qs):
        raise ValueError("quantiles must be in (0, 1]")
    # one percentile_disc AGGREGATE over the (KB-scale) sample, then
    # stack to long form — an aggregate (unlike a rank-pick filter)
    # yields exactly one row per quantile even on an EMPTY or
    # null-heavy sample, with NULL estimates, matching what the same
    # aggregate produces in any other engine
    aggs = [
        F.expr(
            f"percentile_disc({q}) WITHIN GROUP (ORDER BY `{value_col}`)"
        ).alias(f"__q{i}")
        for i, q in enumerate(qs)
    ]
    stack_args = ", ".join(
        f"CAST({q} AS DOUBLE), __q{i}" for i, q in enumerate(qs)
    )
    return sample.agg(*aggs).selectExpr(
        f"stack({len(qs)}, {stack_args}) AS (quantile, est_value)"
    )
