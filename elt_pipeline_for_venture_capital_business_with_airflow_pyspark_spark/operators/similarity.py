"""Similarity search over an embedding column (BASELINE.json north star).

Embeddings are ``array<float>`` columns. All vector math is built from
``zip_with``/``aggregate`` expressions (JVM-side, codegen) — elements
are cast to double before accumulation so results are deterministic
IEEE-754 left-to-right folds, matching a sequential oracle.

Search paths:
- ``cosine_topk``       : brute-force exact top-k — the correctness
                          baseline; broadcast the (small) query set, so
                          the corpus is scanned once, no shuffle of the
                          corpus itself.
- ``lsh_ann_topk``      : random-hyperplane LSH buckets → candidates →
                          exact rerank. The 100 TB path: candidate
                          generation is an equi-join on bucket keys.
- ``ivf_topk`` / ``build_ivf_index`` + ``ivf_probe_index``:
                          partition-pruning ANN. One search
                          (:func:`_ivf_search`) serves cells assigned
                          in the plan and cells read back from a
                          persisted index; an int8 index serves from
                          the quantized tier.
- ``ivfpq_topk``        : IVF-PQ — 32× memory compression + O(m) ADC
                          scoring per candidate (the FAISS-style scale
                          combo).
- ``ann_topk_int8``     : brute-force top-k over int8-quantized vectors.

Near-dup and dedup paths:
- ``embedding_near_dup``: all pairs with cosine ≥ threshold via LSH
                          banding over sign bits.
- ``semantic_dedup``    : SemDeDup-style per-vector keep/prune
                          verdicts (cluster → within-cell greedy
                          keep-first) — the semantic complement of
                          the lexical MinHash/SimHash dedup family.

Shared cores: every ranked search ends in the one per-key top-k,
:func:`..dedup.dedup_keep_first` (one ``row_number`` per query, ties
to the lowest id); float scores are :func:`dot`/:func:`cosine_pre`
and int8 scores :func:`int_dot`, one SQL builder for both
(:func:`_dot_sql_text`); IVF cell assignment is
:func:`_assign_cells` and probe choice :func:`_centroid_sims`, both
with the centroid norms folded at plan time.

The near-dup paths carry the hot-bucket guard of ``operators/dedup``
(:func:`..dedup.collapse_identical_signatures`,
``_expand_rep_pairs``, ``_cap_buckets``): byte-identical vectors
collapse to a min-id representative before any band/cell self-join,
so boilerplate clones cost O(n), never O(n²), candidates.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import io as IO
from . import dedup as DD


def _py_norm(cv) -> float:
    """Plan-time euclidean norm of a collected centroid/plane vector,
    in the EXACT fold order of :func:`dot` (acc = 0.0; acc += x·x,
    left to right). CPython floats are IEEE doubles and math.sqrt is
    correctly rounded like Math.sqrt, so the literal this produces is
    bit-identical to evaluating norm() over the same literal array in
    the JVM — letting constant vector norms be folded at plan time
    instead of re-aggregated per row."""
    acc = 0.0
    for v in cv:
        x = float(v)
        acc = acc + x * x
    return _math.sqrt(acc)


def _q(name: str) -> str:
    """Backtick-quote a column name for the SQL-text builders below."""
    return "`" + name.replace("`", "``") + "`"


def _dbl_sql(v: float) -> str:
    """SQL double literal with exact round-trip (repr is the shortest
    string that parses back to the same IEEE double in both CPython
    and Java's Double.parseDouble — bit-identity verified in
    tests/test_unroll_equivalence.py)."""
    x = float(v)
    if x != x or x in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite literal: {v!r}")
    return repr(x) + "D"


def lit_double_array(vals) -> F.Column:
    """``array<double>`` literal parsed as ONE SQL expression.
    Building the same tree per element (``F.array(*[F.lit(v) ...])``)
    costs one py4j round-trip per node — ~1 s of pure DRIVER time for
    a 16×64 matrix, re-paid at every plan construction (round-13
    measurement: ivf probe construction was 2.2 s before, driver-side,
    with execution at 0.6 s). The parsed literal is the same Literal
    after constant folding, so values are bit-identical."""
    return F.expr("array(" + ",".join(_dbl_sql(v) for v in vals) + ")")


def lit_double_matrix(rows) -> F.Column:
    """``array<array<double>>`` literal parsed as ONE SQL expression
    (see :func:`lit_double_array` for why)."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_dbl_sql(v) for v in r) + ")" for r in rows
        )
        + ")"
    )


def _dot_sql_text(a: str, b: str, dim: int | None, typ: str = "DOUBLE") -> str:
    """SQL text of the guarded-unrolled dot (see :func:`dot`), its
    elements cast to ``typ`` and summed from ``typ``'s zero: DOUBLE
    for the float dot, BIGINT for the exact int8 dot
    (:func:`int_dot`). The 64-term tree built per node costs ~400
    py4j round-trips PER INSTANCE at plan construction; parsing one
    string is one call. The parsed tree is operator-for-operator the
    tree the Column builders produce (same casts, same
    left-associated fold, same size guard), so values are
    bit-identical."""
    zero = "0.0D" if typ == "DOUBLE" else f"CAST(0 AS {typ})"
    hof = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(x AS {typ}) * CAST(y AS {typ})), {zero}, "
        f"(acc, v) -> acc + v)"
    )
    if dim is None:
        return hof
    terms = "".join(
        f" + (CAST(get({a}, {i}) AS {typ}) * CAST(get({b}, {i}) AS {typ}))"
        for i in range(dim)
    )
    return (
        f"CASE WHEN (size({a}) = {dim}) AND (size({b}) = {dim}) "
        f"THEN ({zero}{terms}) ELSE {hof} END"
    )


def dot(a, b, dim: int | None = None) -> F.Column:
    """Σ a[i]·b[i] with double accumulation, sequential fold order.

    With ``dim`` (the expected vector length), emits an UNROLLED
    left-associated sum guarded by a size check — whole-stage-codegen
    arithmetic instead of the interpreted ``aggregate``/``zip_with``
    higher-order pair (HOF lambdas never codegen; measured ~1.4× per
    pair, and ~6× combined with per-row norm precomputation on the
    SemDeDup qualifying join). Bit-identical by construction: the
    unrolled ``((0.0 + a0·b0) + a1·b1) + …`` is the same IEEE fold
    order, NULL elements propagate through +/* exactly as the HOF
    form's NULL products do, and rows whose arrays are NOT ``dim``
    long (sweep-mutated data) fall back to the HOF expression.

    ``a``/``b`` may be COLUMN NAMES (strings): the expression is then
    parsed from one SQL string instead of built node-by-node over
    py4j — identical tree, ~400× less driver time per instance
    (round-13; the Column path remains for composed/lambda-bound
    inputs)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql_text(_q(a), _q(b), dim))
    hof = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    if dim is None:
        return hof
    s: F.Column = F.lit(0.0)
    for i in range(dim):
        s = s + F.get(a, i).cast("double") * F.get(b, i).cast("double")
    return F.when((F.size(a) == dim) & (F.size(b) == dim), s).otherwise(hof)


def int_dot(a: str, b: str, dim: int | None = None) -> F.Column:
    """Exact BIGINT Σ a[i]·b[i] over two integer-array COLUMN NAMES
    (the int8 tier's dot): with ``dim`` the guarded unrolled sum
    (codegen arithmetic, off-``dim`` rows fall back to the fold),
    without it the ``aggregate``/``zip_with`` fold. Integer sums are
    exact, so both forms agree bit for bit."""
    return F.expr(_dot_sql_text(_q(a), _q(b), dim, "BIGINT"))


def norm(a: F.Column, dim: int | None = None) -> F.Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: F.Column, b: F.Column, dim: int | None = None) -> F.Column:
    """NULL (not DIVIDE_BY_ZERO) for a zero-norm vector: one dead
    all-zeros row must rank last, not kill the job under the
    session's default ANSI mode."""
    den = norm(a, dim) * norm(b, dim)
    return F.when(den != 0, dot(a, b, dim) / den)


def cosine_pre(
    a,
    b,
    na,
    nb,
    dim: int | None = None,
) -> F.Column:
    """:func:`cosine` with the two norms PRECOMPUTED (``na`` =
    norm(a), ``nb`` = norm(b)). Norms are per-ROW functions, so a
    pair-volume join that evaluates cosine per candidate re-runs two
    64-element folds per pair for values already determined by the
    row; projecting them onto each side before the join collapses
    per-pair work to one dot. Same expression graph otherwise —
    ``when(na·nb != 0, dot/(na·nb))`` — so values are bit-identical.

    All-string arguments take the one-parse SQL-text path (see
    :func:`dot`) — same tree, none of the per-node py4j driver cost."""
    if all(isinstance(x, str) for x in (a, b, na, nb)):
        d = _dot_sql_text(_q(a), _q(b), dim)
        den_sql = f"({_q(na)} * {_q(nb)})"
        return F.expr(f"CASE WHEN {den_sql} != 0 THEN ({d}) / {den_sql} END")
    den = na * nb
    return F.when(den != 0, dot(a, b, dim) / den)


def _centroid_sims(vec: F.Column, norm_col: F.Column, cent_rows) -> F.Column:
    """Per-centroid cosine array with the centroid norms folded to
    plan-time literals (:func:`_py_norm` — bit-identical to the JVM
    fold) and the row norm read from ``norm_col``: one dot per
    centroid instead of three interpreted folds (measured 3× on the
    assignment stage). Kept compact (zip_with over literal matrices),
    NOT unrolled per centroid — the repeated unrolled tree made the
    optimizer the bottleneck."""
    cmat = lit_double_matrix([r["cv"] for r in cent_rows])
    cnorms = lit_double_array([_py_norm(r["cv"]) for r in cent_rows])
    return F.zip_with(
        cmat,
        cnorms,
        lambda c, cn: F.when(
            norm_col * cn != 0, dot(vec, c) / (norm_col * cn)
        ),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` (query_id, embedding) is broadcast; the corpus streams
    through one scan computing similarities, then a per-query window
    picks the top k (ties broken by corpus id → deterministic).
    Excludes self-matches when ids collide. Norms are projected once
    per row on each side (cosine_pre), so the |corpus|×|queries|
    scoring stage does one dot per pair; ``dim`` additionally unrolls
    that dot into codegen arithmetic."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            cosine_pre("__qvec", "__cvec", "__qn", "__cn", dim),
        )
    )
    return DD.dedup_keep_first(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("neighbor_id")],
        k, "rank",
    ).select("query_id", "rank", "neighbor_id", "cosine_sim")


def _knn_avg(topk: DataFrame, out_id: str, out_avg: str) -> DataFrame:
    """Deterministic mean of a query's top-k similarities: the sims
    fold in RANK order (sort_array on (rank, sim) structs, then a
    left fold) — a plain AVG would sum doubles in partition order and
    break cross-engine hash parity."""
    ns = F.sort_array(F.collect_list(F.struct("rank", "cosine_sim")))
    return (
        topk.groupBy("query_id")
        .agg(ns.alias("__ns"))
        .select(
            F.col("query_id").alias(out_id),
            (
                F.aggregate(
                    F.col("__ns"),
                    F.lit(0.0),
                    lambda acc, s: acc + s["cosine_sim"],
                )
                / F.size("__ns")
            ).alias(out_avg),
        )
    )


def bitext_margin_mine(
    left: DataFrame,
    right: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk_fn=None,
) -> DataFrame:
    """Margin-based parallel-pair mining (the ratio-margin criterion
    of Artetxe & Schwenk, "Margin-based Parallel Corpus Mining with
    Multilingual Sentence Embeddings" — the public method behind
    CCMatrix-style bitext harvesting): for each left vector, candidate
    matches are its forward top-k in ``right``; each candidate is
    scored by cos(x,y) normalized by the mean of both sides' k-NN
    similarities — margin = cos(x,y) / ((avgk(x) + avgk(y)) / 2) —
    which suppresses "hub" vectors that are close to everything; the
    best-margin candidate per left vector is kept when margin ≥
    ``threshold``. Raw cosine thresholds are incomparable across
    density regions; the margin is the standard fix.

    Returns (src_id, tgt_id, cosine_sim, margin) — one row per mined
    left vector, ties broken by lowest tgt_id.

    Scale shape: neighbor lists come from ``topk_fn`` (default
    :func:`cosine_topk`, the broadcast brute-force baseline — right
    for shard-vs-corpus mining where the shard broadcasts). For
    corpus×corpus mining swap in an ANN path with the same output
    schema, e.g. ``lambda c, q, k: ivf_probe_index(q, path, k=k)``
    over a prebuilt index — the margin stage is unchanged. The
    backward pass scores ONLY the candidate targets surfaced by the
    forward pass (a semi join), never all of ``right``.

    Determinism: k-NN averages fold in rank order (:func:`_knn_avg`),
    margins are single IEEE divisions — hash-parity with the ANSI-SQL
    oracle (``embedding_bitext_mine``)."""
    if topk_fn is None:
        topk_fn = cosine_topk
    lq = left.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias(vec_col)
    )
    fwd = topk_fn(right, lq, k)
    tgt_ids = fwd.select(F.col("neighbor_id").alias(id_col)).distinct()
    rq = right.join(tgt_ids, id_col, "semi").select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias(vec_col)
    )
    bwd = topk_fn(left, rq, k)
    af = _knn_avg(fwd, "src_id", "__avg_src")
    ab = _knn_avg(bwd, "tgt_id", "__avg_tgt")
    cand = fwd.select(
        F.col("query_id").alias("src_id"),
        F.col("neighbor_id").alias("tgt_id"),
        "cosine_sim",
    )
    scored = (
        cand.join(af, "src_id")
        .join(ab, "tgt_id")
        .withColumn(
            "margin",
            F.col("cosine_sim")
            / ((F.col("__avg_src") + F.col("__avg_tgt")) / F.lit(2.0)),
        )
    )
    best = DD.dedup_keep_first(
        scored, ["src_id"], [F.col("margin").desc(), F.col("tgt_id")]
    ).select("src_id", "tgt_id", "cosine_sim", "margin")
    return best.filter(F.col("margin") >= threshold)


def _plane_values(seed: int, plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components in [-1, 1):
    md5(seed:plane:j) → uniform double. Generated driver-side once and
    embedded as plan literals — no RNG state, no per-row hashing."""
    import hashlib

    vals = []
    for j in range(dim):
        h = int.from_bytes(
            hashlib.md5(f"{seed}:{plane}:{j}".encode()).digest()[:8], "big"
        )
        vals.append((h % 2000003) / 1000001.5 - 1.0)
    return vals


def _band_entries(
    df: DataFrame,
    idc: str,
    out_id: str,
    vec_col: str,
    dim: int,
    num_planes: int,
    bands: int,
    seed: int,
    keep_vec: bool = False,
) -> DataFrame:
    """(id[, vec], band, bucket:int) rows — one per band per vector,
    all computed in the scan stage (the explode is map-side). The
    bucket is the band's sign bits packed into an int directly from
    the hyperplane dot products (no string signature materialized).
    ``keep_vec`` carries the vector in the same rows — used when the
    downstream join is a broadcast (no shuffle pays for the copies);
    shuffle-joined sides leave it off and ship bare ids."""
    assert num_planes % bands == 0, "num_planes must divide into bands"
    bits_per_band = num_planes // bands
    # all plane dot products in ONE higher-order pass over a literal
    # plane matrix (HOF lambdas are interpreted — one pass of 16 dots
    # beats 16 separate aggregate() expression trees ~2×); the matrix
    # parses as one SQL literal (round-13: per-element F.lit cost ~1 s
    # of py4j per plan construction)
    planes = lit_double_matrix(
        [_plane_values(seed, p, dim) for p in range(num_planes)]
    )
    dots = F.transform(planes, lambda pl: dot(F.col(vec_col), pl))
    cols = [F.col(idc).alias(out_id)]
    if keep_vec:
        cols.append(F.col(vec_col).alias(f"__{out_id}_vec"))
        # the downstream rerank join scores per PAIR; carrying the
        # per-row norm makes that one dot instead of three (cosine_pre)
        cols.append(norm(F.col(vec_col)).alias(f"__{out_id}_norm"))
    staged = df.select(*cols, dots.alias("__dots"))
    # per-band sign-bit pack as one parsed expression each (same
    # 0 + CASE…END + … left-associated sum the Column builder made)
    buckets = [
        F.struct(
            F.lit(b).alias("band"),
            F.expr(
                "(0"
                + "".join(
                    f" + CASE WHEN element_at(`__dots`, "
                    f"{b * bits_per_band + j + 1}) > 0 "
                    f"THEN {1 << j} ELSE 0 END"
                    for j in range(bits_per_band)
                )
                + ")"
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    vec_cols = [f"__{out_id}_vec", f"__{out_id}_norm"] if keep_vec else []
    out = staged.select(
        out_id,
        *vec_cols,
        F.explode(F.array(*buckets)).alias("bb"),
    )
    return out.select(out_id, *vec_cols, "bb.band", "bb.bucket")


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: corpus and queries are bucketed by bands of
    hyperplane sign bits; only same-bucket candidates are scored, then
    exact cosine reranks. Recall is tunable via planes/bands.

    Scale shape: **one corpus scan, score-in-map, tiny shuffle.** Band
    entries for the (small) query set are broadcast WITH their vectors;
    the corpus streams through the broadcast join and cosine is
    computed immediately, so the only shuffled bytes are
    (query_id, neighbor_id, sim) triples — the multi-band duplicate
    collisions collapse in a groupBy (max = first, the values are
    identical) that doubles as the dedup, then the per-query window
    ranks. The corpus vector never crosses a shuffle boundary."""
    cb = _band_entries(
        corpus, id_col, "neighbor_id", vec_col, dim, num_planes, bands, seed,
        keep_vec=True,
    )
    qb = _band_entries(
        queries, query_id_col, "query_id", vec_col, dim, num_planes, bands, seed,
        keep_vec=True,
    )
    scored = (
        cb.join(F.broadcast(qb), on=["band", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            cosine_pre(
                "__query_id_vec",
                "__neighbor_id_vec",
                "__query_id_norm",
                "__neighbor_id_norm",
                dim,
            ),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cosine_sim").alias("cosine_sim"))
    )
    return DD.dedup_keep_first(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("neighbor_id")],
        k, "rank",
    ).select("query_id", "rank", "neighbor_id", "cosine_sim")


def _pick_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    centroid_source: DataFrame | None = None,
) -> list:
    """Deterministic centroid rows (≤ ``n_centroids``, KB-sized driver
    collect — the sanctioned bounded-metadata pattern). Hash-ordered
    sample of the corpus by default; ``centroid_source`` picks plain
    id-ordered rows instead (the SQL-replicable variant). Corrupt
    (whole- or partially-null) vectors never seed centroids."""
    if centroid_source is not None:
        cent_rows = (
            centroid_source.select(
                F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
            )
            .filter(F.col("cv").isNotNull())  # corrupt rows never seed centroids
            .orderBy("cid")
            .limit(n_centroids)
            .collect()
        )
    else:
        cent_rows = (
            corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
            .filter(F.col("cv").isNotNull())
            .withColumn("__h", F.xxhash64(F.col("cid").cast("string")))
            .orderBy("__h", "cid")
            .limit(n_centroids)
            .collect()
        )
    # a PARTIALLY-null vector would crash float(None) on the driver —
    # skip it like whole-null vectors (same corrupt-row contract)
    return [r for r in cent_rows if all(v is not None for v in r["cv"])]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_source: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the partition-pruning
    complement to hyperplane LSH: the corpus is bucketed once by
    nearest centroid; each query probes only its ``n_probe`` nearest
    cells, so the scored fraction is ~n_probe/n_centroids of the
    corpus regardless of scale.

    Centroids are a deterministic hash-ordered sample of the corpus
    (collected to the driver as plan literals — centroid metadata is
    KB-sized, exactly like the LSH plane matrix; swap in k-means
    centroids offline for better cell balance, the query path is
    unchanged). Pass ``centroid_source`` to pick centroids from a
    plain id-ordered frame instead of the hash sample — that variant
    is SQL-replicable end to end (see the ``embedding_ivf_sqlcheck``
    oracle query). Cluster assignment = argmax centroid cosine, ties
    to the lowest cell index — deterministic (:func:`_assign_cells`).
    The search over the assigned cells is the one
    :func:`ivf_probe_index` runs over a persisted index
    (:func:`_ivf_search`), so both return the same rows for the same
    centroids; at 100 TB persist the cells with
    :func:`build_ivf_index` so a probe prunes parquet partitions
    instead of filtering a scan.
    """
    cent_rows = _pick_centroids(
        corpus, n_centroids, id_col, vec_col, centroid_source
    )
    if not cent_rows:
        # empty corpus -> no centroids to fit; the search result is
        # defined (no neighbors), not an error — an empty slice must
        # flow through a pipeline
        return _no_neighbors(corpus.sparkSession, quantized=False)
    cells = _assign_cells(corpus, cent_rows, id_col, vec_col)
    return _ivf_search(
        queries, cells, cent_rows, k, n_probe, id_col, vec_col, query_id_col, dim
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_source: DataFrame | None = None,
    quantize: bool = False,
) -> int:
    """Persist an IVF index: ``<path>/centroids`` (cell, cid, cv) and
    ``<path>/cells`` — the corpus assigned to its nearest centroid and
    written ``partitionBy(cell)``, the layout :func:`ivf_topk`'s
    docstring promises at 100 TB. A probe then reads ONLY the
    ``n_probe`` cell directories it needs (parquet partition pruning),
    so per-query scan volume is ~n_probe/n_centroids of the corpus at
    the DIRECTORY level, not via a post-scan filter. Returns the
    number of centroids fitted (0 on an empty/corrupt corpus — the
    index is still created, and probing it returns no neighbors).

    Centroid selection is the same deterministic hash-ordered sample
    (or id-ordered ``centroid_source``) as :func:`ivf_topk`, collected
    once as KB-sized plan literals. Cell ids are positions in that
    centroid order.

    ``quantize=True`` composes the serving tier (round 7): the cells
    layout stores ``(id, scale, q array<int>, cell)`` — the int8
    quantization applied IN the index-write projection
    (:func:`quantize_int8`, zero extra passes) instead of the float
    vector, so a probe reads 4× fewer bytes per cell on top of the
    directory pruning, and scoring switches to the exact-BIGINT
    integer dot (:func:`ann_topk_int8`'s arithmetic). Cell ASSIGNMENT
    still happens on the float vectors (centroids stay float — KB),
    so the quantized index probes the same cells as the float one.
    The choice is self-describing: :func:`append_ivf_index` and
    :func:`ivf_probe_index` detect the tier from the cells schema."""
    spark = corpus.sparkSession
    cent_rows = _pick_centroids(
        corpus, n_centroids, id_col, vec_col, centroid_source
    )
    cent_df = spark.createDataFrame(
        [
            (i, int(r["cid"]), [float(v) for v in r["cv"]])
            for i, r in enumerate(cent_rows)
        ],
        "cell int, cid long, cv array<double>",
    )
    # repartition(1), NOT coalesce(1): a coalesce(1)'d write pays a
    # reproducible ~4 s fixed overhead in this build (measured on a
    # 1-row frame; plain and repartition(1) writes are ~0.5 s).
    # Single file either way; _read_centroids orders by cell on read.
    IO.replace_table(spark, cent_df.repartition(1), f"{path}/centroids")
    if not cent_rows:
        # empty cells table with the right schema so probes read cleanly
        empty_schema = (
            f"{id_col} long, scale double, q array<int>, cell int"
            if quantize
            else f"{id_col} long, {vec_col} array<float>, cell int"
        )
        IO.replace_table(spark, spark.createDataFrame([], empty_schema), f"{path}/cells")
        return 0
    assigned = _assign_cells(corpus, cent_rows, id_col, vec_col)
    if quantize:
        assigned = quantize_int8(
            assigned, id_col, vec_col, extra_cols=("cell",)
        ).select(id_col, "scale", "q", "cell")
    IO.replace_table(spark, assigned, f"{path}/cells", ["cell"])
    return len(cent_rows)


def _read_centroids(spark, path: str) -> list:
    return (
        spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    )


def _assign_cells(
    vectors: DataFrame, cent_rows: list, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, cell) — nearest-centroid assignment: argmax centroid
    cosine, ties to the lowest cell index. The one assignment of
    :func:`ivf_topk`, :func:`build_ivf_index` and
    :func:`append_ivf_index`, so a persisted index and the in-flight
    operator agree bit-for-bit."""
    staged = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("__norm"),
    )
    sims = _centroid_sims(F.col(vec_col), F.col("__norm"), cent_rows)
    return staged.select(
        F.col(id_col),
        F.col(vec_col),
        (F.array_position(sims, F.array_max(sims)) - 1)
        .cast("int")
        .alias("cell"),
    )


def append_ivf_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign a new shard against the PERSISTED centroids (no
    retraining, no corpus touch) and append it to the cell layout —
    the daily-increment complement of :func:`build_ivf_index`, same
    cadence story as ``dedup.incremental_lsh_pairs``. Centroids are
    deliberately frozen: cell membership of existing vectors never
    changes on append, so probe results over the union equal a
    fresh index built with the SAME centroids (tested). Re-fit
    centroids offline when drift degrades cell balance — that is a
    rebuild, not an append.

    The storage tier is read off the persisted cells schema (a ``q``
    column means int8 — see ``build_ivf_index(quantize=True)``): the
    shard is quantized IDENTICALLY at append time, so the
    append == rebuild law holds for the quantized tier too (tested)."""
    spark = new_vectors.sparkSession
    cent_rows = _read_centroids(spark, path)
    if not cent_rows:
        raise ValueError(
            f"IVF index at {path} has no centroids — build it from a "
            "non-empty corpus before appending"
        )
    assigned = _assign_cells(new_vectors, cent_rows, id_col, vec_col)
    if "q" in spark.read.parquet(f"{path}/cells").columns:
        assigned = quantize_int8(
            assigned, id_col, vec_col, extra_cols=("cell",)
        ).select(id_col, "scale", "q", "cell")
    IO.commit(spark, f"{path}/cells", assigned, partition_by=["cell"])


def ivf_probe_index(
    queries: DataFrame,
    path: str,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Top-k ANN against a persisted IVF index. Per query, the
    ``n_probe`` nearest cells are computed from the KB-sized centroid
    table; the probes broadcast onto the cells scan with a join on the
    partition column, so dynamic partition pruning reads only the
    probed cell directories. The search is :func:`_ivf_search`, the
    one :func:`ivf_topk` runs over cells it assigns in the plan:
    cosine in double with sequential fold, ties to the lowest
    neighbor id — the same rows for the same centroids.

    ``broadcast_queries`` (default) ships each query vector
    ``n_probe`` times to every executor — right for the typical
    few-thousand-query batch, but a huge query batch would exceed
    broadcast limits. Set it False to fall back to a shuffled hash
    join on ``cell`` (both sides exchange; the probed cells, ≤
    n_centroids ints collected driver-side, become a literal
    partition filter; same results bit-for-bit — the escape hatch
    mirroring ``dedup.incremental_lsh_pairs``'s ``broadcast_new``).

    Against an int8 index (``build_ivf_index(quantize=True)``,
    detected from the cells schema) the probe serves from the
    quantized tier: queries quantize in the probe projection, the
    per-pair score is the exact-BIGINT integer dot rescaled by the
    two per-vector scales (:func:`ann_topk_int8`'s arithmetic — the
    ranking key's integer part is oracle-exact), and the output is
    ``(query_id, rank, neighbor_id, dot_int, score)``. Cell CHOICE is
    identical to the float tier (float centroids, float query) — only
    scanning and scoring ride the 4×-smaller representation."""
    spark = queries.sparkSession
    cent_rows = _read_centroids(spark, path)
    cells = spark.read.parquet(f"{path}/cells")
    if not cent_rows:
        return _no_neighbors(spark, quantized="q" in cells.columns)
    return _ivf_search(
        queries,
        cells,
        cent_rows,
        k,
        n_probe,
        id_col,
        vec_col,
        query_id_col,
        len(cent_rows[0]["cv"]),
        broadcast_queries,
    )


def _no_neighbors(spark, quantized: bool) -> DataFrame:
    """The empty result of an IVF search (no centroids: empty
    corpus), with the schema of the tier it would have served."""
    return spark.createDataFrame(
        [],
        "query_id long, rank int, neighbor_id long, "
        + ("dot_int bigint, score double" if quantized else "cosine_sim double"),
    )


def _ivf_search(
    queries: DataFrame,
    cells: DataFrame,
    cent_rows: list,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    dim: int,
    broadcast_queries: bool = True,
) -> DataFrame:
    """The one IVF search: per query, probe the ``n_probe`` cells
    whose centroids are nearest (cosine, ties to the lowest cell),
    score every vector of those cells and rank the top ``k``.

    ``cells`` is an assigned corpus ``(id_col, vec_col, cell)`` —
    built in the plan (:func:`ivf_topk`) or read back from a
    persisted index (:func:`ivf_probe_index`) — or an int8 cells
    table ``(id_col, scale, q, cell)``, detected by its ``q`` column.
    The int8 tier quantizes the queries in the probe projection and
    scores with the exact BIGINT :func:`int_dot` rescaled by both
    scales; cell CHOICE always runs on the float vectors, so both
    tiers probe the same cells. ``broadcast_queries``: see
    :func:`ivf_probe_index`."""
    quantized = "q" in cells.columns
    # a small corpus yields fewer centroids than asked — the probe
    # loop runs over what EXISTS or element_at walks off the end (a
    # crash under the session's default ANSI mode)
    n_cent = len(cent_rows)
    n_probe = min(n_probe, n_cent)
    int8 = ["__sq", "__qq"] if quantized else []
    if quantized:
        # quantize the query side in the probe projection (zero extra
        # passes); the float vector still chooses the cells
        queries = quantize_int8(
            queries, query_id_col, vec_col, extra_cols=(vec_col,)
        ).select(
            query_id_col,
            vec_col,
            F.col("scale").alias("__sq"),
            F.col("q").alias("__qq"),
        )
    staged = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__query_vec"),
        norm(F.col(vec_col)).alias("__qn"),
        *int8,
    )
    sims = _centroid_sims(F.col("__query_vec"), F.col("__qn"), cent_rows)
    idx_sims = F.transform(
        F.sequence(F.lit(0), F.lit(n_cent - 1)),
        lambda i: F.struct(
            i.cast("int").alias("idx"),
            F.element_at(F.col("__sims"), (i + 1).cast("int")).alias("sim"),
        ),
    )
    by_sim_desc = F.array_sort(
        idx_sims,
        lambda x, y: F.when(x["sim"] > y["sim"], -1)
        .when(x["sim"] < y["sim"], 1)
        .otherwise(x["idx"] - y["idx"]),
    )
    carry = int8 or ["__query_vec", "__qn"]
    probes = staged.select(
        "query_id", *carry, sims.alias("__sims")
    ).select(
        "query_id",
        *carry,
        F.explode(
            F.transform(F.slice(by_sim_desc, 1, n_probe), lambda s: s["idx"])
        ).alias("cell"),
    )
    if broadcast_queries:
        # partition pruning WITHOUT a second driver round-trip
        # (round-13, guide §2.4/§5): the cells⋈probes join below is a
        # broadcast hash join ON the partition column, so dynamic
        # partition pruning reuses the probe broadcast to skip
        # unprobed cell directories at the scan (PartitionFilters:
        # dynamicpruningexpression in the plan — asserted by
        # tests/test_plan_shapes.py). The previous shape evaluated the
        # whole probe subplan a second time just to collect the cell
        # ids into a literal IN filter: one extra driver job per call.
        probe_side = F.broadcast(probes)
    else:
        # shuffled fallback (huge query batches): keep the bounded
        # literal filter (≤ n_centroids ints) — without a broadcast
        # there is nothing for DPP to reuse
        probe_cells = sorted(
            r["cell"] for r in probes.select("cell").distinct().collect()
        )
        cells = cells.filter(F.col("cell").isin(probe_cells))
        probe_side = probes
    if quantized:
        # per-pair exact-BIGINT dot, guarded-unrolled (dim from the
        # centroid table — cells store same-dim q)
        scored = (
            cells.join(probe_side, on="cell")
            .filter(F.col(id_col) != F.col("query_id"))
            .withColumn("dot_int", int_dot("q", "__qq", dim))
            .withColumn(
                "score", F.col("dot_int") * F.col("scale") * F.col("__sq")
            )
        )
        out = ["dot_int", "score"]
    else:
        # cell-side norm projected once per stored row before the
        # per-query fanout join; per-pair work = one guarded-unrolled dot
        scored = (
            cells.withColumn("__cn", norm(F.col(vec_col)))
            .join(probe_side, on="cell")
            .filter(F.col(id_col) != F.col("query_id"))
            .withColumn(
                "cosine_sim",
                cosine_pre("__query_vec", vec_col, "__qn", "__cn", dim),
            )
        )
        out = ["cosine_sim"]
    return DD.dedup_keep_first(
        scored, ["query_id"], [F.col(out[-1]).desc(), F.col(id_col)], k, "rank"
    ).select("query_id", "rank", F.col(id_col).alias("neighbor_id"), *out)


def compact_ivf_index(spark, path: str, target_file_mb: int = 256) -> dict:
    """Small-file compaction for a persisted IVF index: daily
    :func:`append_ivf_index` shards add one parquet file per cell
    directory per day, and probe scan planning pays per-file listing
    and footer overhead even with perfect partition pruning. Rewrites
    ``cells`` preserving its ``cell=*`` layout (so probes keep pruning
    at the directory level); the KB-sized ``centroids`` table is
    already a single file and is left untouched — rewriting it could
    only risk the frozen-centroid contract. Content-identical, so
    probe results are bit-for-bit unchanged (pinned by tests).
    Returns before/after file counts."""
    before = len(IO.data_files(spark, f"{path}/cells"))
    IO.compact_partitioned_parquet(
        spark, f"{path}/cells", ["cell"], target_file_mb
    )
    return {"cells_files": (before, len(IO.data_files(spark, f"{path}/cells")))}


def embedding_near_dup(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    num_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ threshold, generated via
    sign-bit band collisions + exact rerank (high-cosine pairs collide
    in some band with high probability). Band join and pair dedup
    shuffle bare ids; vectors rejoin once per side for the rerank.

    Hot-bucket guard (``dedup.banded_pairs``' guard, the same
    helpers): byte-identical vectors (duplicate docs embed
    identically, the dominant collision mode at crawl scale) collapse
    to a min-id representative BEFORE the band self-join
    (``dedup.collapse_identical_signatures``), so k clones contribute
    ONE node per bucket instead of k² candidates; candidate pairs then
    expand back through the membership frame
    (``dedup._expand_rep_pairs``) and EVERY expanded pair is scored by
    the same cosine expression — identical floats give identical
    scores, so the output (and the hash-checked
    ``embedding_near_dup_sqlcheck`` oracle) is unchanged. Scoring is
    output-sized work, the floor the all-pairs contract sets."""
    # the collapse is checkpointed (feeds the band-join sides and both
    # expansion legs); b_df is checkpointed too so the 16 interpreted
    # hyperplane dots per rep run once, not once per join side. State:
    # (id, band, bucket) per rep×band.
    reps, membership = DD.collapse_identical_signatures(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__vec")),
        "__vec",
    )
    b_df = _band_entries(
        reps, "id", "id", "__vec", dim, num_planes, bands, seed
    ).localCheckpoint(eager=True)
    a, b = b_df.alias("a"), b_df.alias("b")
    rep_cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # every expanded pair is scored below, so intra pairs carry no value
    cand = DD._expand_rep_pairs(rep_cand, membership, [])
    # norms ride the vector rejoin (per-row work), so the candidate
    # rerank pays one guarded-unrolled dot per pair (cosine_pre)
    va = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm(F.col(vec_col)).alias("__na"),
    )
    vb = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm(F.col(vec_col)).alias("__nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine_sim",
            cosine_pre("vec_a", "vec_b", "__na", "__nb", dim),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ): the memory-compression ANN scale path.
# A 64-dim float32 vector (256 B) becomes m=8 one-byte codes — 32×
# smaller — and query scoring becomes m table lookups instead of a
# 64-term dot product. At 100 TB this is the difference between
# holding the corpus in executor memory and not. All arithmetic is
# integer-quantized (floor(x·1e6) longs, exact L2) so every code,
# cell, and score is bit-identical in the ANSI-SQL oracle
# (embedding_ivfpq_sqlcheck / embedding_pq_codes).
# ---------------------------------------------------------------------------

PQ_SCALE = 1_000_000


def _quantized(vec_col: str) -> F.Column:
    """array<float> → array<long>: floor(x·1e6) — exact cross-engine."""
    return F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * PQ_SCALE).cast("long")
    )


def _int_d2(a: F.Column, b: F.Column) -> F.Column:
    """Exact integer squared-L2 between two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _collect_codebook(
    codeword_source: DataFrame, id_col: str, vec_col: str, ks: int
) -> list[list[int]]:
    """The first ``ks`` vectors by id, quantized — KB-sized plan
    literals (the same posture as the IVF centroid matrix; swap in
    per-subspace k-means offline for tighter cells, the query path is
    unchanged)."""
    rows = (
        codeword_source.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .filter(F.col("cv").isNotNull())  # corrupt rows never seed the codebook
        .orderBy("cid")
        .limit(ks)
        .collect()
    )
    import math

    # skip partially-null vectors — float(None) would crash the driver
    return [
        [int(math.floor(float(x) * PQ_SCALE)) for x in r["cv"]]
        for r in rows
        if all(x is not None for x in r["cv"])
    ]


def _int_array_sql(vals) -> str:
    """SQL text of an integer-array literal. Plain integral literals
    type exactly like ``F.lit(int)`` (INT when the value fits 32 bits,
    BIGINT otherwise), so the parsed array matches the per-element
    build — without its per-node py4j cost (round-13)."""
    return "array(" + ",".join(str(int(v)) for v in vals) + ")"


def _cw_literal(qcw: list[list[int]], m: int, d_m: int) -> F.Column:
    """Nested literal CW[s][j] = the j-th codeword restricted to
    subspace s (an array<long> of length d_m) — one parsed SQL
    expression (round-13, see :func:`lit_double_matrix`)."""
    return F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                _int_array_sql(cw[s * d_m : (s + 1) * d_m]) for cw in qcw
            )
            + ")"
            for s in range(m)
        )
        + ")"
    )


def _sub_d2(qv: F.Column, CW: F.Column, s, j, d_m: int) -> F.Column:
    """Exact squared-L2 between subspace ``s`` of the quantized vector
    ``qv`` and codeword ``j`` of that subspace (``CW`` from
    :func:`_cw_literal`)."""
    return _int_d2(
        F.slice(qv, s * d_m + 1, d_m),
        F.element_at(F.element_at(CW, s + 1), j + 1),
    )


def _pq_code(qv: F.Column, CW: F.Column, s, ks: int, d_m: int) -> F.Column:
    """The PQ code of subspace ``s``: argmin over the ``ks`` codewords
    of :func:`_sub_d2`, ties to the lowest code (an array_min over
    struct(d2, j) — no explode and no window)."""
    return F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.lit(ks - 1)),
            lambda j: F.struct(
                _sub_d2(qv, CW, s, j, d_m).alias("d2"), j.alias("j")
            ),
        )
    )["j"]


def pq_codes(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codeword_source: DataFrame | None = None,
) -> DataFrame:
    """Encode each vector as ``m`` subspace codes: split into m
    contiguous subspaces of dim/m dims; code_s = argmin over the ks
    codewords of exact integer squared-L2, ties to the lowest code.
    Output is long format ``(id, s, code)`` — one shuffle-free map
    stage (:func:`_pq_code`, the encoding :func:`ivfpq_topk` uses).
    """
    assert dim % m == 0, "dim must divide evenly into m subspaces"
    d_m = dim // m
    qcw = _collect_codebook(codeword_source or corpus, id_col, vec_col, ks)
    if not qcw:
        # empty corpus -> nothing to encode (see ivf_topk empty note)
        return corpus.sparkSession.createDataFrame([], "id long, s int, code int")
    ks = min(ks, len(qcw))  # small corpus: argmin only over real codewords
    CW = _cw_literal(qcw, m, d_m)
    qv = _quantized(vec_col)
    return corpus.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.cast("int").alias("s"),
                    _pq_code(qv, CW, s, ks, d_m).cast("int").alias("code"),
                ),
            )
        ).alias("sc"),
    ).select("id", F.col("sc.s").alias("s"), F.col("sc.code").alias("code"))


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 8,
    ks: int = 16,
    n_cells: int = 16,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codeword_source: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k: corpus bucketed by nearest cell seed
    (exact integer L2, ties to the lowest seed), queries probe their
    ``n_probe`` nearest cells, and candidates are scored by ADC —
    approx_d2 = Σ_s dt[s][code_s], where dt is the per-query 8×16
    distance table computed IN the plan against the codeword literals.
    Candidate generation is an equi-join on cell (never a cartesian);
    per-candidate work is m lookups, independent of dim. Output:
    (query_id, rank, neighbor_id, approx_d2), rank by (approx_d2 asc,
    neighbor_id) — total order, engine-independent.

    At 100 TB: codes+cell (9 small ints/vector) are the only corpus
    state the search touches — write them ``partitionBy(cell)`` and a
    probe prunes partitions; raw vectors are needed only for an
    optional exact re-rank of the tiny top-k candidate set.
    """
    assert dim % m == 0
    d_m = dim // m
    src = codeword_source or corpus
    qcw = _collect_codebook(src, id_col, vec_col, max(ks, n_cells))
    if not qcw:
        # empty corpus -> no cells, no codes (see ivf_topk empty note)
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, rank int, neighbor_id long, approx_d2 long"
        )
    # small corpus: every loop bound below must track what EXISTS, or
    # element_at indexes past the literals (ANSI crash / phantom cells)
    ks = min(ks, len(qcw))
    n_cells = min(n_cells, len(qcw))
    n_probe = min(n_probe, n_cells)
    CW = _cw_literal(qcw[:ks], m, d_m)
    SEEDS = F.expr(
        "array("
        + ",".join(_int_array_sql(cw) for cw in qcw[:n_cells])
        + ")"
    )

    qv = _quantized(vec_col)
    cell_d2s = F.transform(SEEDS, lambda sv: _int_d2(qv, sv))
    # argmin with first-occurrence tie-break
    cell = (F.array_position(cell_d2s, F.array_min(cell_d2s)) - 1).cast("int")

    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: _pq_code(qv, CW, s, ks, d_m).cast("int"),
    )
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        cell.alias("cell"),
        codes.alias("codes"),
    )

    # per-query: probe cells (n_probe smallest exact d2) + ADC table
    probe_structs = F.transform(
        F.sequence(F.lit(0), F.lit(n_cells - 1)),
        lambda c: F.struct(
            F.element_at(cell_d2s, c + 1).alias("d2"), c.alias("c")
        ),
    )
    probes = F.slice(F.array_sort(probe_structs), 1, n_probe)
    dt = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(ks - 1)),
            lambda j: _sub_d2(qv, CW, s, j, d_m),
        ),
    )
    probed = queries.select(
        F.col(query_id_col).alias("query_id"),
        dt.alias("dt"),
        F.explode(probes).alias("p"),
    ).select("query_id", "dt", F.col("p.c").alias("cell"))

    scored = (
        assigned.join(F.broadcast(probed), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0).cast("long"),
                lambda acc, s: acc
                + F.element_at(
                    F.element_at(F.col("dt"), s + 1),
                    F.element_at(F.col("codes"), s + 1) + 1,
                ),
            ).alias("approx_d2"),
        )
    )
    return DD.dedup_keep_first(
        scored, ["query_id"], [F.col("approx_d2").asc(), F.col("neighbor_id")],
        k, "rank",
    ).select("query_id", "rank", "neighbor_id", "approx_d2")


def quantize_int8(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the storage
    tier every 100-TB embedding corpus actually serves from (4×
    smaller than float32, SIMD-dot-able), with the reconstruction
    audit a quantization rollout needs: per-vector scale, MSE and max
    absolute error of the dequantized vector.

    q_i = floor(x_i/scale + 0.5) with scale = max|x| / 127 — floor of
    a half-offset instead of round(), because round's half-rule
    differs across engines (Spark HALF_UP vs banker's variants) while
    floor is exact on any IEEE double. Zero vectors get scale 0 and
    q = 0 (guarded division). All arithmetic is per-element double
    math plus fixed left-assoc folds (`F.aggregate`), so the DuckDB
    oracle (list_reduce over the same expressions) hash-matches
    bit-for-bit — including the errors.

    Scale shape: a pure map — no shuffle, no state, no UDF; quantizing
    a corpus is one scan that pushes only (id, vector) through
    codegen. Returns (id, scale, q array<int>, mse, max_abs_err);
    ``extra_cols`` carries additional input columns through unchanged
    (e.g. the IVF ``cell`` id when quantizing at index-write time).
    """
    x = F.col(vec_col)
    xd = F.transform(x, lambda v: v.cast("double"))
    maxabs = F.aggregate(
        xd, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v))
    )
    scale = maxabs / F.lit(127.0)
    q = F.when(maxabs == 0, F.transform(xd, lambda v: F.lit(0))).otherwise(
        F.transform(
            xd,
            lambda v: F.floor(v / scale + F.lit(0.5)).cast("int"),
        )
    )
    stage = vectors.select(
        F.col(id_col),
        F.size(x).alias("n_dims"),
        scale.alias("scale"),
        q.alias("q"),
        xd.alias("__xd"),
        *extra_cols,
    )
    err = F.zip_with(
        F.col("__xd"),
        F.col("q"),
        lambda v, qi: v - qi.cast("double") * F.col("scale"),
    )
    sse = F.aggregate(err, F.lit(0.0), lambda acc, e: acc + e * e)
    return stage.select(
        id_col,
        "n_dims",
        "scale",
        "q",
        (sse / F.col("n_dims")).alias("mse"),
        F.aggregate(
            err, F.lit(0.0), lambda acc, e: F.greatest(acc, F.abs(e))
        ).alias("max_abs_err"),
        *extra_cols,
    )


def ann_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k inner-product neighbors SERVED FROM THE QUANTIZED TIER:
    both sides pass through :func:`quantize_int8`, the dot product is
    an exact BIGINT (Σ int8·int8 — no float accumulation at all), and
    the real-valued score is recovered as ``dot_int · scale_c ·
    scale_q`` (two float multiplies, fixed order). This is how a
    100-TB embedding corpus actually answers queries — 4× less IO
    than float32, SIMD-able integer dots, and scores within
    quantization error of the exact ones (bounded in tests against
    :func:`cosine_topk` on L2-normalized inputs).

    Oracle posture: stronger than the float paths — the ranking key's
    integer part is EXACT cross-engine, so the registry entry
    hash-checks dots, scores, and ranks with no epsilon anywhere.
    Plan: same single-scan broadcast shape as cosine_topk; the
    quantization happens inside the scan projection (zero extra
    shuffles, zero extra passes)."""
    cq = quantize_int8(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("scale").alias("__sc"),
        F.col("q").alias("__qc"),
    )
    qq = quantize_int8(queries, query_id_col, vec_col).select(
        F.col(query_id_col).alias("query_id"),
        F.col("scale").alias("__sq"),
        F.col("q").alias("__qq"),
    )
    scored = (
        cq.join(F.broadcast(qq))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dot_int", int_dot("__qc", "__qq"))
        .withColumn(
            "score", F.col("dot_int") * F.col("__sc") * F.col("__sq")
        )
    )
    # rank by the RESCALED score (per-vector scales make raw integer
    # dots incomparable across corpus rows); the score is exact-int ×
    # two fixed-order multiplies, so the ordering is still
    # deterministic cross-engine, tie-broken by neighbor id
    return DD.dedup_keep_first(
        scored, ["query_id"], [F.col("score").desc(), F.col("neighbor_id")],
        k, "rank",
    ).select("query_id", "rank", "neighbor_id", "dot_int", "score")


def mmr_rerank(
    candidates: DataFrame,
    k: int,
    lambda_: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    rel_col: str = "cosine_sim",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: greedily pick ``k`` of
    each query's candidates maximizing
    ``λ·relevance − (1−λ)·max_sim_to_already_picked`` — the standard
    diversified-retrieval objective (Carbonell & Goldstein 1998) that
    keeps a RAG context window from filling with k near-copies of the
    same document.

    Candidates are expected to be an ANN/brute top-N per query
    (bounded N per query — the input is retrieval output, never the
    corpus), so the greedy loop runs over candidate-sized data only.
    The k rounds are UNROLLED INTO THE PLAN as JVM-side window+join
    stages partitioned by ``query_col`` — no Python in the loop, no
    driver collect, arbitrarily many queries in parallel; cost is
    k·(candidate-set shuffle), independent of corpus size.

    Determinism contract: relevance and pairwise similarities are
    rounded to 6dp before any comparison (the repo's cross-engine
    cosine convention), λ defaults to 0.5 (exactly representable;
    score arithmetic on rounded inputs is then bit-reproducible), and
    score ties break by ascending candidate id. Queries with fewer
    than k candidates yield fewer rows, never an error.
    """
    lam = float(lambda_)
    # per-candidate norm projected ONCE (round-13): the k unrolled
    # rounds each evaluated cosine() per candidate — three interpreted
    # 64-element folds per row per round; with the norms riding the
    # rows each round pays one (optionally unrolled, see ``dim``) dot.
    # cosine_pre is the same expression graph, values bit-identical.
    # localCheckpoint (round-13, guide §5): the k unrolled rounds all
    # grow from this frame, and the union of the k pick branches would
    # otherwise re-plan (and, where exchange reuse can't apply,
    # re-execute) the candidate-generation subtree per branch. The
    # materialized state is retrieval output — bounded per query by
    # contract, never corpus-sized.
    base = (
        candidates.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("cand_id"),
            F.round(F.col(rel_col), 6).alias("__rel"),
            F.col(vec_col).alias("__vec"),
            norm(F.col(vec_col)).alias("__norm"),
        )
        .withColumn("__maxsim", F.lit(0.0))
        .localCheckpoint(eager=True)
    )

    picks: list[DataFrame] = []
    state = base
    for i in range(k):
        scored = state.withColumn(
            "__score",
            F.lit(lam) * F.col("__rel") - F.lit(1.0 - lam) * F.col("__maxsim"),
        )
        sel = DD.dedup_keep_first(
            scored, ["query_id"], [F.col("__score").desc(), F.col("cand_id")]
        ).select(
            "query_id",
            F.col("cand_id").alias("__sel_id"),
            F.col("__vec").alias("__sel_vec"),
            F.col("__norm").alias("__sel_norm"),
            F.col("__score").alias("__sel_score"),
        )
        picks.append(
            sel.select(
                "query_id",
                F.lit(i + 1).alias("rank"),
                F.col("__sel_id").alias(id_col),
                F.col("__sel_score").alias("mmr_score"),
            )
        )
        if i < k - 1:
            # sel is ≤ one row per query by construction — broadcast,
            # so the only per-round exchange is the ranking window's
            state = (
                scored.join(F.broadcast(sel), "query_id")
                .filter(F.col("cand_id") != F.col("__sel_id"))
                .withColumn(
                    "__maxsim",
                    F.greatest(
                        F.col("__maxsim"),
                        F.round(
                            cosine_pre(
                                "__vec", "__sel_vec", "__norm",
                                "__sel_norm", dim,
                            ),
                            6,
                        ),
                    ),
                )
                .select(
                    "query_id", "cand_id", "__rel", "__vec", "__norm",
                    "__maxsim",
                )
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
# cluster the embedding space, then within each cluster prune every
# vector that is ≥ threshold cosine-similar to a LOWER-ID vector —
# the published greedy keep-first rule. Unlike MinHash/SimHash (which
# catch lexical near-dups), this removes SEMANTIC duplicates —
# paraphrases, translations, templated rewrites — which at web scale
# are a large fraction of training tokens. Cost is within-cell
# all-pairs, which is the published algorithm's shape: cells are
# capacity-bounded by construction (n_centroids scales with the
# corpus), so total work stays ~linear.
# ---------------------------------------------------------------------------


def _semdedup_assigned(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    centroid_source: DataFrame | None,
) -> "tuple[DataFrame | None, DataFrame | None]":
    """Shared SemDeDup front half: identical-vector collapse + rep →
    nearest-centroid assignment. Returns ``(assigned, membership)``
    where ``assigned`` is ``(id, __vec, cell)`` at REP grain and
    ``membership`` maps every live vector to its rep; ``(None,
    None)`` when there are no centroids (empty corpus). Factored out
    so :func:`semdedup_cell_overflow` reports against the EXACT cell
    assignment the prune uses."""
    cent_rows = _pick_centroids(
        corpus, n_centroids, id_col, vec_col, centroid_source
    )
    if not cent_rows:
        return None, None
    # one parsed literal (round-13): same int-typed array the
    # per-element F.lit build produced, none of the py4j cost
    cids = F.expr(
        "array(" + ",".join(str(int(r["cid"])) for r in cent_rows) + ")"
    )

    # the collapse is checkpointed: membership
    # feeds the final verdict join AND the prune aggregate, reps feed
    # both sides of the qualifying self-join plus the cell rejoin —
    # several of them under BroadcastExchange, which cannot reuse a
    # shuffle exchange
    reps, membership = DD.collapse_identical_signatures(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__vec"))
        .filter(dot(F.col("__vec"), F.col("__vec")) > 0),
        "__vec",
    )
    # the row norm is a per-ROW function: compute it once here and
    # carry it so the qualifying self-join scores pairs with ONE dot
    # instead of re-folding both norms per candidate (cosine_pre).
    # HOF form (compact tree): this subtree feeds several consumers
    # and row-grain execution is not the bottleneck — the unrolled
    # form lives only at PAIR grain in the qualifying join.
    reps = reps.select("id", "__vec", norm(F.col("__vec")).alias("__norm"))

    # assign representatives to cells: argmax centroid cosine, ties to
    # the lowest centroid index (array_position returns the FIRST max),
    # the centroid norms folded at plan time (:func:`_centroid_sims`).
    # Second cut: the 16-dot assignment sims are themselves
    # per-row work consumed by BOTH qualifying-join sides plus the
    # membership cell rejoin — checkpoint so they run once per rep
    # (cheap on top of the checkpointed collapse above)
    sims = _centroid_sims(F.col("__vec"), F.col("__norm"), cent_rows)
    assigned = (
        reps.withColumn("__sims", sims)
        .select(
            "id",
            "__vec",
            "__norm",
            F.element_at(
                cids,
                F.array_position(
                    F.col("__sims"), F.array_max(F.col("__sims"))
                ).cast("int"),
            ).alias("cell"),
        )
        .localCheckpoint(eager=True)
    )
    return assigned, membership


def semdedup_cell_overflow(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 16,
    max_cell_size: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_source: DataFrame | None = None,
) -> DataFrame:
    """Overflow accounting for :func:`semantic_dedup`'s per-cell cap
    (the SemDeDup sibling of ``dedup.band_bucket_overflow``):
    ``(cell, n_reps)`` for every cell holding more than
    ``max_cell_size`` DISTINCT representatives — i.e. exactly the
    cells a capped prune skipped. Identical-vector clones collapse
    first, so a boilerplate flood is ONE rep here, not an overflow.
    Run alongside a capped call to quantify the recall trade; a
    non-empty result is the signal to raise ``n_centroids``."""
    assigned, _ = _semdedup_assigned(
        corpus, n_centroids, id_col, vec_col, centroid_source
    )
    if assigned is None:
        return corpus.sparkSession.createDataFrame([], "cell long, n_reps long")
    return (
        assigned.groupBy(F.col("cell").cast("long").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_reps"))
        .filter(F.col("n_reps") > max_cell_size)
    )


def semantic_dedup(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 16,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_source: DataFrame | None = None,
    max_cell_size: int | None = None,
) -> DataFrame:
    """Per-vector keep/prune decisions: ``(vec_id, cell, kept,
    pruned_by)`` where ``cell`` is the assigned centroid's id,
    ``pruned_by`` is the smallest lower-id vector in the same cell
    with cosine ≥ threshold (NULL ⇒ kept). Deterministic end to end:
    id-ordered centroids via ``centroid_source`` make every cell
    assignment and cosine double bit-identical in ANSI SQL (same
    explicit fold-order contract as ``embedding_ivf_sqlcheck``).

    Hot-bucket guard (same as ``embedding_near_dup``): byte-identical
    vectors collapse to a min-id representative before the within-cell
    self-join; representative-level qualifying pairs INCLUDE the self
    pair ``(r, r)`` evaluated through the real cosine expression, so a
    group member v is pruned by its own representative exactly when
    the ungrouped rule would prune it (cos(v,v) ≥ threshold as
    floats) — grouped output is bit-identical to the ungrouped
    all-pairs rule, with candidate volume linear in clone count.

    Scope: vectors with no cosine geometry — NULL, partially-NULL, or
    zero-norm — are EXCLUDED from the output (an explicit
    ``dot(v,v) > 0`` predicate, restated verbatim in the oracle), not
    silently kept: a "kept" verdict on a vector the similarity math
    never saw would be a lie.

    ``max_cell_size`` (round 12, VERDICT r11 #6 — the second line of
    defense, mirroring ``dedup.banded_pairs``' ``max_bucket_size``):
    the within-cell qualifying self-join is quadratic in the number
    of DISTINCT representatives a cell holds (identical-vector
    clones already collapse, so boilerplate floods don't count), and
    BENCH_SCALING's decade sweep can only certify that quadratic up
    to the scale it measured. With a cap, cells holding more than
    ``max_cell_size`` distinct reps SKIP pruning — every member
    verdict in that cell is ``kept=TRUE, pruned_by=NULL`` — so the
    per-cell work is bounded by construction at cap² regardless of
    corpus shape. A documented recall trade (unpruned near-dups
    survive in flooded cells), quantified by
    :func:`semdedup_cell_overflow`; the right production response to
    a reported overflow is more centroids (smaller cells), not a
    bigger cap. Default None = exact, and the capped output is
    BIT-IDENTICAL to exact whenever no cell exceeds the cap (pinned
    by tests/test_semdedup_cap.py)."""
    assigned, membership = _semdedup_assigned(
        corpus, n_centroids, id_col, vec_col, centroid_source
    )
    if assigned is None:
        return corpus.sparkSession.createDataFrame(
            [], "vec_id long, cell long, kept boolean, pruned_by long"
        )

    # per-cell cap: over-cap cells are excluded from BOTH sides of
    # the qualifying self-join (their members fall through the final
    # left join as kept) — the LSH bucket cap, on the cell key
    joinable = DD._cap_buckets(assigned, ["cell"], max_cell_size)

    # rep-level qualifying pairs within a cell, INCLUDING self-pairs
    # (a self-pair qualifies iff cos(v,v) >= threshold as floats —
    # that is exactly when the ungrouped rule prunes a clone).
    # Norms ride the sides (computed once per rep in
    # _semdedup_assigned), so per-pair work is ONE unrolled dot.
    a = joinable.select(
        F.col("cell"),
        F.col("id").alias("rep_id"),
        F.col("__vec").alias("__va"),
        F.col("__norm").alias("__na"),
    )
    b = joinable.select(
        F.col("cell"),
        F.col("id").alias("qual_rep"),
        F.col("__vec").alias("__vb"),
        F.col("__norm").alias("__nb"),
    )
    qual = (
        a.join(b, "cell")
        .withColumn(
            "__cos",
            cosine_pre("__va", "__vb", "__na", "__nb", dim),
        )
        .filter(F.col("__cos") >= F.lit(float(threshold)))
        .select("cell", "rep_id", "qual_rep")
    )

    mem = membership.join(
        assigned.select(F.col("id").alias("rep_id"), "cell"), "rep_id"
    )
    pruned = (
        mem.join(qual, ["rep_id", "cell"])
        .filter(F.col("qual_rep") < F.col("id"))
        .groupBy("id")
        .agg(F.min("qual_rep").alias("pruned_by"))
    )
    return (
        mem.join(pruned, "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            F.col("cell").cast("long").alias("cell"),
            F.col("pruned_by").isNull().alias("kept"),
            "pruned_by",
        )
    )
