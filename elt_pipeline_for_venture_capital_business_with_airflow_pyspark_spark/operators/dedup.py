"""Deduplication operator family (BASELINE.json north star).

Five dedup strategies over a documents table, ordered by cost/recall
trade-off. All are pure DataFrame compositions — no Python in the hot
path — and all avoid driver-side materialization:

- exact        : fingerprint groupBy. One shuffle on a 32-char hash.
- ngram_jaccard: exact word-shingle Jaccard via shingle-inverted-index
                 self-join. Quadratic in the worst case — the *oracle*
                 baseline the approximate methods are tested against.
- minhash_lsh  : MinHash signatures + banded LSH candidate join →
                 the 100 TB path (cost ≈ linear in corpus + candidate
                 pairs). Signatures hash polynomial char-k-grams
                 through an affine family, so every value is
                 reproducible in ANSI SQL and oracle-hash-checkable.
- simhash      : 60-bit SimHash fingerprints over the same polynomial
                 grams + chunk-banding (:func:`hamming_near_pairs`)
                 for hamming-distance candidates.
- embedding near-dup: cosine ≥ threshold pairs on an embedding column
                 (see ``similarity`` for the ANN machinery).

Each family has ONE implementation. Pair graphs resolve to clusters
through :func:`connected_components` (large-star/small-star) and
keep-first survivorship (:func:`survivors_from_edges`). The Jaccard
and containment pairs share one shingle-overlap core
(:func:`_shingle_overlap`), and :func:`dedup_keep_first` is the one
per-key top-k of the package (latest-wins upsert, CDC apply, golden
records, KMV bottom-k, per-group sampling caps, every similarity
search).

Hot-bucket guard: every near-dup self-join here and in ``similarity``
(MinHash bands, SimHash chunks, embedding bands, SemDeDup cells)
runs behind ONE guard. :func:`collapse_identical_signatures` collapses
rows with a byte-identical key to a min-id representative, so k
clones are one node in every bucket; :func:`_expand_rep_pairs` expands
the representative pairs back to document pairs (intra-group pairs
plus each cross pair's members) with output-sized work; and
:func:`_cap_buckets` skips buckets holding more than a cap of distinct
keys, a recall trade the caller opts into.

The persisted MinHash-LSH index (daily shard vs corpus, never
re-signing the corpus) has ONE lifecycle: :func:`write_index`,
:func:`probe_index`, :func:`verify_index`, :func:`repair_index` and
the exactly-once :func:`index_sink_batch`. Build parameters live in
the index's ``meta`` and are read back by every later call.

Scale notes (100 TB): the shingle inverted index must drop
ultra-frequent shingles (``max_shingle_freq``) or the hottest shingle
becomes a quadratic skew key; LSH banding keeps candidate generation
linear; everything shuffles on hash keys → uniform partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..sources.io import (
    commit, path_exists, read_meta, read_partitioned, replace_table, write_meta,
)


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint.

    Returns one row per fingerprint group: canonical (min) id, group
    size, member ids sorted. ``n_dups = group_size - 1`` rows can be
    dropped by keeping ``keep_id`` only.
    """
    return (
        df.select(F.col(id_col).alias("id"), TX.fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("id").alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
            F.array_sort(F.collect_list("id")).alias("member_ids"),
        )
    )


def _shingle_index(
    df: DataFrame, id_col: str, text_col: str, n: int, max_shingle_freq: int | None
) -> DataFrame:
    """Inverted index: (shingle, id), optionally dropping shingles that
    occur in more than ``max_shingle_freq`` docs (skew/blowup guard)."""
    idx = TX.shingle_stream(df, id_col, text_col, n)
    if max_shingle_freq is not None:
        hot = (
            idx.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_freq"))
            .filter(F.col("df_freq") > max_shingle_freq)
            .select("shingle")
        )
        idx = idx.join(F.broadcast(hot), "shingle", "left_anti")
    return idx


def _shingle_overlap(
    df: DataFrame, id_col: str, text_col: str, n: int, max_shingle_freq: int | None
) -> DataFrame:
    """``(id_a, id_b, n_common, n_a, n_b)`` for every pair of docs
    sharing at least one shingle (id_a < id_b): the shingle inverted
    index self-joined on shingle, common shingles counted per pair, and
    both docs' shingle-set sizes joined on. Only docs sharing ≥1
    shingle ever meet, so cost is driven by shingle co-occurrence, not
    |corpus|². The core of both overlap scores below."""
    idx = _shingle_index(df, id_col, text_col, n, max_shingle_freq)
    sizes = idx.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))

    a = idx.alias("a")
    b = idx.alias("b")
    common = (
        a.join(b, on="shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    return common.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (id_a < id_b, sim ≥ threshold):
    jaccard = common / (|A| + |B| - common) over the shingle overlap
    (:func:`_shingle_overlap`)."""
    return (
        _shingle_overlap(df, id_col, text_col, n, max_shingle_freq)
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Asymmetric n-gram containment pairs: ``n_common / min(|A|, |B|)``.

    Jaccard misses the sub-document case — a paragraph pasted into a
    10× longer page scores ``|A|/|B|`` ≈ 0.1 Jaccard but 1.0
    containment of the smaller side. Containment is the right signal
    for quote/boilerplate/aggregator dedup in crawl corpora.

    Same shingle overlap as :func:`ngram_jaccard_pairs`
    (:func:`_shingle_overlap`: docs only meet through shared shingles —
    never all-pairs); the output adds ``contained_id``, the doc whose
    shingle set is the (more) covered one (ties → lower id)."""
    return (
        _shingle_overlap(df, id_col, text_col, n, max_shingle_freq)
        .withColumn(
            "containment",
            F.col("n_common") / F.least(F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("containment") >= threshold)
        .withColumn(
            "contained_id",
            F.when(F.col("n_a") <= F.col("n_b"), F.col("id_a")).otherwise(
                F.col("id_b")
            ),
        )
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "containment", "contained_id")
    )


def contamination_hits(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination scan: which training documents share
    word ``n``-grams with ANY evaluation document? The standard
    pre-training hygiene step (GPT-3 Appendix C lineage: 13-gram
    overlap): a train doc containing an eval n-gram leaks the
    benchmark into the training set and inflates downstream scores.

    Returns ``(id, n_contaminated_grams)`` for train docs with at
    least ``min_hits`` DISTINCT shared n-grams (shingle sets are
    per-doc distinct, so the count never double-counts a repeated
    gram). Compose with a left-anti join (:func:`decontaminate`) to
    drop them, or keep the counts for audit/reporting.

    Scale shape: eval sets are benchmark-sized (thousands of docs,
    KBs of distinct grams) against a 100-TB train side, so the eval
    gram set BROADCASTS by default and the train side is one scan +
    one map-combined groupBy on the train id — no train-side
    shuffle-join. Pass ``broadcast_eval=False`` when decontaminating
    against another corpus-sized table (plain equi-join on the gram).
    Same shingle convention as every dedup op here
    (functions/text.shingles: whitespace tokens; sub-``n`` docs
    contribute their whole text as one gram — conservative: a short
    eval doc quoted verbatim still hits)."""
    # shingles_fast: the one-pass overlapping-regex extraction (same
    # semantics/row-local distinctness as TX.shingles, measured ~7x
    # faster than the slice/concat_ws lambda chain the plain form uses)
    t_grams = train.select(
        F.col(id_col).alias("id"),
        F.explode(TX.shingles_fast(text_col, n)).alias("g"),
    )
    e_grams = eval_df.select(
        F.explode(TX.shingles_fast(text_col, n)).alias("g")
    ).distinct()
    if broadcast_eval:
        e_grams = F.broadcast(e_grams)
    return (
        t_grams.join(e_grams, "g")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
        .filter(F.col("n_contaminated_grams") >= min_hits)
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Drop contaminated training documents (see
    :func:`contamination_hits`): the train frame minus every doc with
    ``min_hits``+ distinct eval n-grams, via a left-anti join on the
    hit set — train columns pass through untouched.

    NULL ``id_col`` handling: the anti-join is null-SAFE (``<=>``), so
    NULL-id docs that share eval grams are dropped too — the
    conservative direction for decontamination. Note the per-doc gram
    count in :func:`contamination_hits` groups all NULL-id rows as ONE
    logical doc (SQL ``GROUP BY`` null semantics on both engines), so
    with NULL ids present ``min_hits`` is effectively counted across
    their union — again err-on-dropping. Give docs real ids for exact
    per-doc thresholds."""
    hits = contamination_hits(
        train, eval_df, id_col, text_col, n, min_hits, broadcast_eval
    ).select(F.col("id").alias("__contaminated_id"))
    return train.join(
        hits, F.col(id_col).eqNullSafe(F.col("__contaminated_id")), "left_anti"
    )


def _universal_hash_params(num_hashes: int, seed: int = 1337) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash family
    h_i(x) = a_i*x + b_i over Z/2^64 (long arithmetic wraps — fine for
    hashing). Generated driver-side, embedded as plan literals."""
    import random

    rng = random.Random(seed)
    # a, b < 2^31 so a*h31 + b stays well under 2^63 (Spark 4 runs in
    # ANSI mode: a wrapping long overflow would raise, not wrap)
    return [
        (rng.randrange(1, 1 << 31) | 1, rng.randrange(0, 1 << 31))
        for _ in range(num_hashes)
    ]


def band_entries(
    sig: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """LSH band table ``(id, band, bucket)`` from a ``(id, signature)``
    frame: one row per (doc, band), bucket = hash of that band's
    signature slice. Band entries carry ONLY (id, band, bucket) — at
    100 TB the band join is the big shuffle, and shipping the 64-int
    signature through it 16× would dominate the job; signatures rejoin
    after the candidate set is deduped (a far smaller, id-keyed join).
    This is also the exact schema persisted by :func:`build_lsh_index`,
    so a shard's in-flight band entries and a persisted corpus index
    are join-compatible by construction."""
    rows_per_band = num_hashes // bands

    def bucket_sql(b: int) -> str:
        # one parsed expression per band bucket (round-13): identical
        # xxhash64(concat_ws(',', CAST(signature[i] AS STRING)...))
        # tree, none of the per-node py4j construction cost
        items = ",".join(
            f"CAST(`signature`[{b * rows_per_band + r}] AS STRING)"
            for r in range(rows_per_band)
        )
        return f"xxhash64(concat_ws(',', {items}))"

    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(bucket_sql(b)).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def collapse_identical_signatures(
    sig: DataFrame, key: str = "signature"
) -> "tuple[DataFrame, DataFrame]":
    """Hot-bucket guard, phase 1: collapse rows with a byte-identical
    ``key`` to one canonical representative. Every near-dup family
    runs it before its self-join: MinHash signatures
    (:func:`banded_pairs`), SimHash longs
    (:func:`hamming_near_pairs`) and embedding vectors
    (``similarity.embedding_near_dup``, ``similarity.semantic_dedup``).

    ``sig`` has an ``id`` column and the ``key`` column. Returns
    ``(reps, membership)`` where ``reps`` is ``(id, key)`` restricted
    to the min-id row of each distinct key and ``membership`` is
    ``(id, rep_id)`` for every non-NULL-id row. A row whose key is
    NULL is its own representative, so NULL keys never pair. Grouping is on the
    FULL key value — never a hash of it: a 64-bit hash collision would
    silently merge two distinct signatures and emit false est=1.0
    pairs, and at 10^10 docs the birthday bound makes that a real
    event. One shuffle on the key (a window min — no self-join).

    The collapsed frame is ``localCheckpoint``-ed (round-13, guide §5):
    reps/membership feed 4-6 consumers downstream (both sides of the
    band self-join, the scoring joins, the membership expansion legs)
    and several of those sit under BroadcastExchange, which can NEVER
    reuse a shuffle exchange — the r12 plan dumps show the whole
    shingle→signature→window pipeline replicated five times per
    query. Cutting it here runs the corpus-scan pipeline ONCE. The
    materialized state is one key + two ids per row (for MinHash the
    exact frame ``build_lsh_index`` persists anyway), spilling to disk
    under memory pressure."""
    # a NULL key equals no other key (the ungrouped rule pairs no NULL
    # signature), so a row whose key is NULL is its own representative
    rep_id = F.when(F.col(key).isNull(), F.col("id")).otherwise(
        F.min("id").over(Window.partitionBy(key))
    )
    with_rep = (
        sig.select("id", key)
        .withColumn("rep_id", rep_id)
        .localCheckpoint(eager=True)
    )
    membership = with_rep.select("id", "rep_id").filter(F.col("id").isNotNull())
    reps = with_rep.filter(F.col("id") == F.col("rep_id")).select("id", key)
    return reps, membership


def _cap_buckets(
    entries: DataFrame, key: list[str], max_size: int | None
) -> DataFrame:
    """Hot-bucket guard, second line of defense: drop the ``entries``
    rows of every ``key`` bucket holding more than ``max_size`` rows
    (``None`` = no cap, the frame unchanged). Used on band tables
    (:func:`banded_pairs`) and SemDeDup cells
    (``similarity.semantic_dedup``), where it follows the identical-key
    collapse so the rows counted are DISTINCT keys, and on a persisted
    index's corpus entries (:func:`probe_index`). The count aggregate
    shares the self-join's key, so AQE keeps both co-partitioned: no
    extra shuffle of the entries."""
    if max_size is None:
        return entries
    ok = (
        entries.groupBy(*key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= max_size)
        .drop("__n")
    )
    return entries.join(ok, key)


def band_bucket_overflow(
    sig: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Overflow accounting for the per-bucket cap: ``(band, bucket,
    n_signatures)`` for every band bucket holding more than
    ``max_bucket_size`` DISTINCT signatures (identical signatures
    collapse first, so a million byte-identical boilerplate docs are
    ONE signature here, not an overflow). Run this alongside a capped
    :func:`banded_pairs` call to quantify what the cap dropped."""
    reps, _ = collapse_identical_signatures(sig)
    return (
        band_entries(reps, num_hashes, bands)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_signatures"))
        .filter(F.col("n_signatures") > max_bucket_size)
    )


def banded_pairs(
    sig: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding over a (id, signature array) frame: band-bucket
    collision candidates, deduped, then scored by estimated Jaccard
    (= fraction of matching signature positions) and thresholded.
    The full-pair tail of :func:`minhash_lsh_pairs_poly` and of the
    shard-internal leg of :func:`incremental_lsh_pairs`.

    Hot-bucket guard (VERDICT r9 #1): identical signatures collapse
    to one representative BEFORE the band self-join, then scored
    rep-level pairs expand back through the membership frame. k
    byte-identical boilerplate docs (the dominant collision mode in
    web crawls) contribute ONE node to the band join instead of k —
    candidate volume stays linear; the k(k-1)/2 intra-group pairs are
    emitted directly from membership (output-sized work, inherent to
    the pair contract). Output is IDENTICAL to the ungrouped join —
    the estimate depends only on signatures, so cross-group pairs
    exist iff their rep pair exists, with the same score — which is
    why the DuckDB oracle for ``dedup_minhash_poly`` (an ungrouped
    SQL restatement) still hash-matches.

    ``max_bucket_size`` is the second line of defense, for DISTINCT
    signatures flooding one bucket (boilerplate-with-noise whose
    sub-threshold candidates would be generated then discarded):
    buckets with more than that many distinct signatures are skipped
    in candidate generation — a documented recall trade, quantified
    by :func:`band_bucket_overflow`. Default None = exact."""
    rep_pairs, membership = _rep_level_pairs(
        sig, num_hashes, bands, threshold, max_bucket_size
    )
    return _expand_rep_pairs(
        rep_pairs,
        membership,
        [F.lit(1.0).alias("est_jaccard")],
        F.lit(1.0) >= F.lit(float(threshold)),
    )


def _rep_level_pairs(
    sig: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_bucket_size: int | None = None,
) -> "tuple[DataFrame, DataFrame]":
    """Shared guarded core: collapse identical signatures, band-join
    the representatives only, score. Returns ``(rep_pairs,
    membership)``."""
    reps, membership = collapse_identical_signatures(sig)
    bt = _cap_buckets(
        band_entries(reps, num_hashes, bands), ["band", "bucket"], max_bucket_size
    )
    a = bt.alias("a")
    b = bt.alias("b")
    # the pre-score dropDuplicates STAYS here (round-13 measured both
    # orders): at the minhash thresholds most candidates survive the
    # estimate filter on near-dup-heavy corpora, so postponing the
    # dedup past scoring (as hamming_near_pairs now does behind its
    # highly selective distance filter) just re-scores the ~8%
    # duplicates and re-shuffles nearly the same volume — interleaved
    # A/B read 0.68× for the postponed form here vs 1.27× for simhash.
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    rep_pairs = _score_candidates(cand, reps, reps, num_hashes, threshold)
    return rep_pairs, membership


def banded_pairs_star(
    sig: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The LINEAR-output form of :func:`banded_pairs` — what a 100 TB
    dedup job should actually emit. Instead of the full pair clique
    (k(k-1)/2 rows for k identical boilerplate docs), returns a
    star-form edge set with the SAME connected components:

    - ``kind='member'``: ``(rep_id, id, 1.0)`` for every non-rep
      member of an identical-signature group — k-1 edges, not
      k(k-1)/2; identical docs are definitionally duplicates.
    - ``kind='lsh'``: representative-level near-dup pairs from the
      guarded band join, one edge per PAIR OF GROUPS.

    Transitive closure over these edges equals transitive closure
    over the full :func:`banded_pairs` output (cross-group pairs
    exist iff their rep pair exists — the estimate depends only on
    the signatures), so connected-components / keep-first dedup
    downstream is unchanged while the edge volume drops from
    quadratic to linear in group size. Columns: ``(id_a, id_b,
    est_jaccard, kind)`` with ``id_a < id_b``."""
    rep_pairs, membership = _rep_level_pairs(
        sig, num_hashes, bands, threshold, max_bucket_size
    )
    member = (
        membership.filter(F.col("id") != F.col("rep_id"))
        .select(
            F.col("rep_id").alias("id_a"),
            F.col("id").alias("id_b"),
            F.lit(1.0).alias("est_jaccard"),
            F.lit("member").alias("kind"),
        )
        .filter(F.lit(1.0) >= F.lit(float(threshold)))
    )
    lsh = rep_pairs.withColumn("kind", F.lit("lsh"))
    return member.unionByName(lsh)


def minhash_lsh_edges_grouped_poly(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Star-form near-dup edges over the SQL-replicable polynomial
    MinHash — :func:`banded_pairs_star` on
    :func:`minhash_signatures_poly`, fully oracle-hash-checkable."""
    sig = minhash_signatures_poly(df, id_col, text_col, k, num_hashes)
    return banded_pairs_star(sig, num_hashes, bands, threshold, max_bucket_size)


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    membership: DataFrame,
    intra_cols: list,
    intra_keep: F.Column | None = None,
) -> DataFrame:
    """Hot-bucket guard, phase 2: expand representative-level pairs
    ``(id_a, id_b, *rest)`` back to document-level pairs through the
    ``membership`` frame of :func:`collapse_identical_signatures`.

    - intra-group pairs (identical keys) carry ``intra_cols`` — the
      value the pair columns take for identical keys (est_jaccard 1.0,
      hamming 0, or nothing when the caller scores every expanded
      pair); ``intra_keep``, if given, is the constant predicate under
      which they qualify at all;
    - cross-group pairs carry their rep pair's ``rest`` columns: the
      pair value depends only on the keys, so every member pair of
      two groups has the reps' value.

    Work here is proportional to the OUTPUT pair count, which is the
    floor any implementation of the full-pair contract pays."""
    m1 = membership.select(F.col("rep_id").alias("__g"), F.col("id").alias("id_a"))
    m2 = membership.select(F.col("rep_id").alias("__g"), F.col("id").alias("id_b"))
    intra = (
        m1.join(m2, "__g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *intra_cols)
    )
    if intra_keep is not None:
        intra = intra.filter(intra_keep)
    ma = membership.select(F.col("rep_id").alias("id_a"), F.col("id").alias("__ma"))
    mb = membership.select(F.col("rep_id").alias("id_b"), F.col("id").alias("__mb"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            *[c for c in rep_pairs.columns if c not in ("id_a", "id_b")],
        )
    )
    return intra.unionByName(cross)


def _score_candidates(
    cand: DataFrame,
    sig_src_a: DataFrame,
    sig_src_b: DataFrame,
    num_hashes: int,
    threshold: float,
) -> DataFrame:
    """Score deduped ``(id_a, id_b)`` candidates by estimated Jaccard
    (fraction of matching signature positions), thresholded. The two
    signature sources may differ (corpus index vs new shard for the
    incremental path) — both id-keyed joins on the already-deduped
    candidate set, far smaller than the band join.

    Signatures are projected to ``array<int>`` for the scoring join:
    signature values are reduced mod the 31-bit prime (2^31 - 1), so
    the cast is lossless and the join rows carry half the
    bytes — on a boilerplate-heavy corpus the candidate set is the
    biggest intermediate of the whole pipeline (r10 octave stress:
    175M candidates at the sf10 decade), and row width is what
    decides whether it spills. Match equality and the est fraction
    are unchanged."""
    as_int = F.transform(F.col("signature"), lambda x: x.cast("int"))
    sig_a = sig_src_a.select(F.col("id").alias("id_a"), as_int.alias("sig_a"))
    sig_b = sig_src_b.select(F.col("id").alias("id_b"), as_int.alias("sig_b"))
    # guarded unrolled match count: the candidate set is the volume
    # peak of the pipeline (1.4M pairs at sf0.1; 175M at the r10
    # octave stress), and the zip_with+filter HOF pair is interpreted
    # per pair. The unrolled sum is codegen arithmetic with identical
    # semantics: a NULL position compares NULL -> counts 0 in both
    # forms; off-length rows (sweep-mutated) fall back to the HOF
    # expression. One instance per plan — cheap for the optimizer —
    # and parsed from ONE SQL string (round-13): the per-node py4j
    # build of the 64-term tree cost ~0.5 s of driver time per plan
    # construction; the parsed tree is operator-identical.
    nh = int(num_hashes)
    hof_sql = (
        "(size(filter(zip_with(`sig_a`, `sig_b`, (x, y) -> x = y), "
        f"m -> m)) / {float(nh)!r}D)"
    )
    terms = "".join(
        f" + CASE WHEN get(`sig_a`, {i}) = get(`sig_b`, {i}) "
        "THEN 1 ELSE 0 END"
        for i in range(nh)
    )
    est = F.expr(
        f"CASE WHEN (size(`sig_a`) = {nh}) AND (size(`sig_b`) = {nh}) "
        f"THEN (0{terms}) / {float(nh)!r}D ELSE {hof_sql} END"
    )
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def hash_chunk_entries(
    fp: DataFrame,
    id_col: str = "id",
    hash_col: str = "h",
    n_chunks: int = 4,
) -> DataFrame:
    """``(id, h, chunk, val)`` rows from a 64-bit LONG fingerprint
    frame: ``n_chunks`` contiguous chunks of ``64 // n_chunks`` bits
    each, keyed via shift+mask. The fingerprint rides along (it is one
    long — nothing to save by rejoining it later). Arithmetic
    shiftright sign-extends the top chunk; the mask AND restores the
    unsigned bit pattern. The chunk keys of the banded hamming join
    (:func:`hamming_near_pairs`)."""
    if not 1 <= n_chunks <= 64:
        # n_chunks > 64 would give zero-width chunks: every row keys
        # to (chunk, 0) and the candidate join degenerates to an
        # accidental cross product — exactly the failure mode the
        # plan audit exists to keep out
        raise ValueError(f"n_chunks must be in [1, 64], got {n_chunks}")
    width = 64 // n_chunks

    def chunk_val(c: int):
        shifted = F.shiftright(F.col(hash_col), c * width)
        if width == 64:
            # n_chunks=1: the chunk IS the full long. (1 << 64) - 1
            # does not fit a long literal (F.lit would throw), and the
            # AND would be an identity anyway — skip it.
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1).cast("long"))

    return fp.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        chunk_val(c).alias("val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cv"),
    ).select("id", "h", "cv.chunk", "cv.val")


def hamming_near_pairs(
    fp: DataFrame,
    id_col: str = "id",
    hash_col: str = "h",
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """Pairs with ``hamming(hash) ≤ max_hamming`` over a 64-bit LONG
    fingerprint column, via pigeonhole chunk banding: split the 64
    bits into ``n_chunks`` contiguous chunks of ``64 // n_chunks``
    bits; distance ≤ max_hamming < n_chunks ⇒ at least one chunk is
    bit-identical (any leftover high bits when 64 % n_chunks != 0 sit
    in NO chunk, which cannot break the pigeonhole — h differing bits
    touch at most h of the h+1 chunks either way), so candidates come
    from an EQUI-join on ``(chunk, chunk_value)`` — shuffle-
    partitioned by key, never all-pairs — then the exact
    ``bit_count(xor)`` filter. The SimHash candidate path. Output
    ``(id_a, id_b, hamming)`` with id_a < id_b."""
    if max_hamming >= n_chunks:
        raise ValueError(
            f"pigeonhole banding needs max_hamming < n_chunks "
            f"(got {max_hamming} >= {n_chunks})"
        )
    # hot-bucket guard (the one banded_pairs runs): identical
    # fingerprints collapse to a min-id representative before the
    # chunk self-join — k byte-identical docs (hence identical
    # SimHash longs) contribute ONE node to every chunk bucket
    # instead of k, keeping candidate volume linear on
    # boilerplate-heavy corpora. The distance depends only on the
    # fingerprint, so expanding scored rep pairs through the
    # membership frame reproduces the ungrouped output exactly
    # (intra-group pairs have hamming 0, always <= max_hamming >= 0).
    reps, membership = collapse_identical_signatures(
        fp.select(F.col(id_col).alias("id"), F.col(hash_col).alias("h")), "h"
    )
    chunks = hash_chunk_entries(reps, "id", "h", n_chunks)

    a, b = chunks.alias("a"), chunks.alias("b")
    # multi-chunk duplicates dedup AFTER the hamming filter (round-13,
    # guide §2.3): the distance is a pure function of the two
    # fingerprints riding the rows, so duplicate candidates carry
    # identical rows and deduping the (much smaller) post-filter
    # stream yields exactly the pre-dedup result — without shuffling
    # the full candidate stream through a dropDuplicates first.
    # Duplication is bounded by n_chunks.
    cand = (
        a.join(b, on=["chunk", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.h").alias("h_a"),
            F.col("b.h").alias("h_b"),
        )
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    rep_pairs = (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _expand_rep_pairs(
        rep_pairs, membership, [F.lit(0).cast("int").alias("hamming")]
    )


class ConnectedComponentsDidNotConverge(RuntimeError):
    """Raised when :func:`connected_components` exhausts ``max_iter``
    without reaching its fixpoint. A non-converged label frame is
    plausible-looking but WRONG (multi-parent edges mid-contraction),
    and downstream survivorship would silently keep the wrong
    documents — so non-convergence is always an error, never a
    degraded answer."""


def _large_star(edges: DataFrame, unsettled: Observation | None = None) -> DataFrame:
    """LARGE-STAR over the symmetrized ``(x, p)`` edges, as one window
    partitioned by node ``u`` and ordered by neighbor ``v``:
    ``m = min(Γ(u) ∪ {u})`` (the running min of an ascending window is
    the partition min), and every distinct neighbor ``v > u`` emits
    ``(v, m)``. Duplicate rows are dropped inside the window (``lag``),
    so no round needs a ``distinct`` of its own.

    ``unsettled`` (if given) observes, in the same pass, how many rows
    show that the INPUT is not yet the fixpoint: a node with both a
    parent and a child (``v > u`` but ``m != u``) or a child with two
    parents (``v < u`` but ``v != m``)."""
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("u"), F.col("p").alias("v")),
                F.struct(F.col("p").alias("u"), F.col("x").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    w = Window.partitionBy("u").orderBy("v")
    star = sym.select(
        "u",
        "v",
        F.least("u", F.min("v").over(w)).alias("m"),
        F.lag("v").over(w).alias("prev"),
    )
    if unsettled is not None:
        star = star.observe(
            unsettled,
            F.count(
                F.when(
                    F.when(F.col("v") > F.col("u"), F.col("m") != F.col("u"))
                    .otherwise(F.col("v") != F.col("m")),
                    1,
                )
            ).alias("rows"),
        )
    return star.filter(
        (F.col("v") > F.col("u"))
        & (F.col("prev").isNull() | (F.col("prev") != F.col("v")))
    ).select(F.col("v").alias("x"), F.col("m").alias("p"))


def _small_star(edges: DataFrame) -> DataFrame:
    """SMALL-STAR over child→parent ``(x, p)`` edges, as one window
    partitioned by child ``x`` and ordered by parent: with ``mp`` the
    least parent, each distinct row emits ONE edge, ``(x, mp)`` from the
    row ``p = mp`` and ``(p, mp)`` from every other parent."""
    w = Window.partitionBy("x").orderBy("p")
    star = edges.select(
        "x", "p",
        F.min("p").over(w).alias("mp"),
        F.lag("p").over(w).alias("prev"),
    )
    return star.filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("p"))
    ).select(
        F.when(F.col("p") == F.col("mp"), F.col("x"))
        .otherwise(F.col("p"))
        .alias("x"),
        F.col("mp").alias("p"),
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a pair graph — the cluster-resolution
    step that turns pairwise dedup/linkage output into "keep one per
    group" decisions. Returns ``(id, component)`` for every node, the
    component label being the min node id in the component.

    Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.
    2014, "Connected Components in MapReduce and Beyond" — public
    algorithm). It contracts path length by roughly half per round
    and provably converges in O(log² n) rounds on any graph — so an
    adversarial near-dup CHAIN (serial plagiarism: A≈B≈C≈…, each pair
    near-dup but the ends unrelated) costs O(log² d) rounds, not the
    O(d) of label propagation.

    Mechanics (edges held DIRECTED child→parent ``(x, p)`` with
    ``p < x``, so every step strictly decreases labels and termination
    is well-founded); both steps are window-min passes
    (:func:`_large_star`, :func:`_small_star`) that drop duplicate rows
    in the window:

    - large-star(u): over the SYMMETRIZED neighborhood,
      m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u —
      strictly-larger neighbors re-point at u's minimum.
    - small-star(x): over x's current parents, m = min(parents);
      emit (p, m) for every other parent p and (x, m) — x's parent
      list collapses into a star on its minimum.

    Fixpoint = every component is a star on its minimum: no node is
    both a parent and a child, and no child has two parents. Both
    steps are the identity there, and a large-star window sees both
    conditions row by row. So one materialized pass (one
    ``localCheckpoint``, which also cuts the lineage) runs a round's
    large-star and small-star plus the NEXT round's large-star, which
    observes (``pyspark.sql.Observation``, no extra job) whether the
    round's output was the fixpoint. The first pass starts from the
    raw edges: large-star reads each edge's neighborhood in either
    orientation and ignores duplicates, so no canonicalizing pass runs
    before it. A graph that converges in one round costs one pass;
    later passes are small-star + large-star.

    Only EDGES iterate: a node with no edges provably labels itself,
    so nodes meet the result once, in the final left join, never in
    the rounds. Edges whose endpoints are not both in ``nodes`` are
    dropped before the first pass, so every label is a node id. At the
    fixpoint the last pass's output holds exactly one ``(x, root)`` row
    per non-root node, so the output has one row per ``nodes`` row.

    Exhausting ``max_iter`` rounds without the fixpoint raises
    :class:`ConnectedComponentsDidNotConverge`. At the default budget
    this cannot fire on real graphs — 50 rounds covers n beyond any
    physical corpus (O(log² n)) — so the raise guards misconfigured
    small budgets. ``stats`` (if a dict is passed) records ``rounds``
    and ``converged``.
    """
    all_nodes = nodes.select(F.col(id_col).alias("id"))
    cur = _large_star(
        edges.select(F.col(src_col).alias("x"), F.col(dst_col).alias("p"))
        .filter(F.col("x") != F.col("p"))
        .join(all_nodes.select(F.col("id").alias("x")), "x", "semi")
        .join(all_nodes.select(F.col("id").alias("p")), "p", "semi")
    )
    rounds = 0
    converged = False
    while rounds < max_iter and not converged:
        rounds += 1
        unsettled = Observation()
        cur = _large_star(_small_star(cur), unsettled).localCheckpoint(eager=True)
        converged = unsettled.get["rows"] == 0
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        raise ConnectedComponentsDidNotConverge(
            f"connected_components did not converge within "
            f"max_iter={max_iter} rounds; labels are NOT component minima"
        )
    return all_nodes.join(
        cur.select(F.col("x").alias("id"), F.col("p").alias("comp")), "id", "left"
    ).select("id", F.coalesce("comp", "id").alias("component"))


def survivors_from_edges(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Survivorship decision from a PRECOMPUTED near-dup edge set:
    connected components → keep the min id per component. This is the
    composition half of :func:`dedup` flagships, factored out so the
    expensive edge build (LSH banding, blocked linkage scoring) can be
    paid ONCE, persisted, and reused — at 100 TB the edge set is
    rebuilt daily at most, while survivorship re-runs per downstream
    consumer (VERDICT r10 #5: the composed flagship was recomputing
    edges a sibling query had already built in the same run).

    Routed through :func:`connected_components`: a PERSISTED edge set
    is exactly where an adversarial deep chain can show up
    unannounced — the caller didn't just build the graph, so no human
    is watching its shape — and large-star/small-star converges in
    O(log² n) rounds on ANY graph.

    Returns ``(doc_id, component, kept)`` where ``kept ⟺ doc_id is
    its component's min`` — identical output contract to the
    one-call composed form. Edges to ids outside ``nodes`` are
    ignored, so every component keeps exactly one survivor.
    """
    comp = connected_components(
        nodes.select(id_col),
        edges,
        id_col=id_col,
        src_col=src_col,
        dst_col=dst_col,
        max_iter=max_iter,
    )
    return comp.select(
        F.col("id").alias(id_col),
        "component",
        (F.col("id") == F.col("component")).alias("kept"),
    )


def dedup_keep_first(
    df: DataFrame,
    keys: list[str],
    order_by: list,
    k: int = 1,
    rank_col: str | None = None,
) -> DataFrame:
    """The one per-key top-k: the first ``k`` rows of each ``keys``
    group in ``order_by`` (Columns, e.g. ``F.col("ts").desc()``, or
    names). ``k = 1`` is latest/first-wins dedup (S7 upsert semantics,
    reference staging load.py:111-118); the upsert, the CDC apply, the
    golden-record mode, the KMV bottom-k and every similarity search
    rank through here. ``rank_col`` keeps the 1-based ``row_number``
    under that name; without it the rank is dropped.

    The rank filter sits directly on the window, so Catalyst plans a
    WindowGroupLimit: each partition keeps at most ``k`` rows per key
    before the window's exchange."""
    rn = rank_col or "__rn"
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c) if isinstance(c, str) else c for c in order_by]
    )
    top = df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) <= k)
    return top if rank_col else top.drop(rn)


def minhash_signatures_poly(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    prime: int = 2147483647,
) -> DataFrame:
    """MinHash signatures over polynomial char-k-gram hashes:
    sig[i] = min over grams of ((a_i·h + b_i) mod p). The gram hash
    (Σ ascii·31^j), the affine family and therefore every signature
    value are bit-identical computable in ANSI SQL, so the WHOLE LSH
    dedup pipeline is oracle-hash-checkable.

    Plan: explode grams → one groupBy computing all ``num_hashes``
    mins in a single aggregation pass (map-side partial min → the
    shuffle ships only 64 ints per doc). A row-local variant
    (transform/array_min over a gram array, zero shuffle) was
    benchmarked ~3× slower — Spark's higher-order lambdas are not
    whole-stage-codegen'd, while this explode + 64-way min aggregate
    JITs end-to-end.
    """
    # gram hash is a small int; the affine multiply needs 64-bit room
    # (a < 2^31, h < 2^17 → product < 2^48, ANSI-safe as long)
    idx = TX.char_gram_hashes(df, id_col, text_col, k).select(
        "id", F.col("h").cast("long").alias("h")
    )
    params = _universal_hash_params(num_hashes)
    # the mod p is essential: an affine map without it is monotone in
    # h, making every family member pick the same min gram. Each min is
    # ONE parsed expression (round-13): 64 per-node builds cost ~0.5 s
    # of py4j driver time per plan construction; parse is type- and
    # value-identical (int literals coerce exactly as F.lit ints).
    mins = [
        F.expr(f"min(pmod(`h` * {a} + {b}, {int(prime)})) AS h{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = idx.groupBy("id").agg(*mins)
    return sig.select(
        "id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature")
    )


def minhash_lsh_pairs_poly(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Banded-LSH near-dup pairs over the SQL-replicable polynomial
    MinHash — candidate semantics and scores identical to an ANSI-SQL
    re-implementation, end to end."""
    sig = minhash_signatures_poly(df, id_col, text_col, k, num_hashes)
    return banded_pairs(sig, num_hashes, bands, threshold)


# ---------------------------------------------------------------------------
# Persisted text MinHash-LSH index.
#
# A daily pipeline does not re-sign its whole corpus per run (the
# reference's own cadence is daily incremental slices —
# dags/vcapital_staging/tasks/components/extract.py:41-43): it builds
# an index once, then each day's shard is signed, probed against the
# persisted band entries and appended. The index persists three things
# under one root:
#
# - ``<path>/signatures``: per-id ``(id, signature)``, the source of
#   truth;
# - ``<path>/bands``: the ``(id, band, bucket)`` expansion of the
#   signatures (:func:`band_entries`), a pure function of them,
#   written ``partitionBy(band)`` so a band-restricted probe prunes at
#   the directory level while ``(band, bucket)`` is the equi-join key;
# - ``<path>/meta``: the parameters fixed at build time (``k``,
#   ``num_hashes``, ``bands``, ``signature: "poly"``). Every later
#   call (probe, append, verify, repair) reads them from here, so no
#   caller can probe or extend an index with parameters it was not
#   built with.
# ---------------------------------------------------------------------------

_SIGNATURE = {"signature": "poly"}


def _bands(sig: DataFrame, meta: dict) -> DataFrame:
    return band_entries(sig, meta["num_hashes"], meta["bands"])


def index_exists(spark, path: str) -> bool:
    """True iff an index exists at ``path`` — the presence of its
    signatures table, which exists for any index in any state,
    including a torn append. An explicit existence test, NOT a
    try/except around a read: a transient read failure on a real index
    must surface as an error, never masquerade as "no index yet" (that
    misread would re-bootstrap and corrupt the corpus)."""
    return path_exists(spark, f"{path}/signatures")


def read_index_meta(spark, path: str) -> dict:
    """The build parameters recorded in ``<path>/meta``. Raises when
    there is no meta (nothing here writes an index without one, so
    the index predates it or is not an index: rebuild it with
    ``mode="overwrite"``) and when the meta names a signature other
    than the polynomial MinHash, which this index cannot probe or
    extend — a persisted index is input from outside the program."""
    meta = read_meta(spark, path)
    if meta is None:
        raise ValueError(
            f"index at {path} has no meta; rebuild it with "
            'mode="overwrite"'
        )
    if meta.get("signature") != "poly":
        raise ValueError(
            f"index at {path} holds signature={meta.get('signature')!r}; "
            "only signature='poly' indexes can be probed or appended here"
        )
    return meta


def _append_meta(spark, path: str, params: dict) -> dict:
    """``params`` plus the signature tag, refused unless they equal
    the meta of the index at ``path`` — an append with other build
    parameters would write entries no probe of this index can match."""
    meta = {**params, **_SIGNATURE}
    on_disk = read_index_meta(spark, path)
    if {k: on_disk.get(k) for k in meta} != meta:
        raise ValueError(
            f"append parameters {params} differ from the index at {path} "
            f'(built with {on_disk}); rebuild it with mode="overwrite" '
            "to change them"
        )
    return meta


def read_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """``(signatures, bands)`` frames of a persisted index, the bands
    with the exact schema :func:`band_entries` produces (``band`` is
    cast back to int for join parity). An index built from an EMPTY
    corpus has no partition directories; that one case reads as an
    empty bands frame (:func:`..sources.io.read_partitioned`) and
    every other failure propagates — a blanket fallback would silently
    answer "no corpus candidates"."""
    meta = read_index_meta(spark, path)
    sig = spark.read.parquet(f"{path}/signatures")
    shape = _bands(sig.limit(0), meta)
    bands = read_partitioned(
        spark, f"{path}/bands", "band", shape.schema
    ).select(
        *[F.col(c).cast("int") if c == "band" else F.col(c) for c in shape.columns]
    )
    return sig, bands


def write_index(
    sig: DataFrame,
    path: str,
    params: dict,
    mode: str = "overwrite",
) -> None:
    """Persist a ``(id, signature)`` frame: the signatures table, then
    its bands.

    ``mode="overwrite"`` writes ``meta`` (``params`` plus the
    signature tag) FIRST, so every index whose signatures table exists
    can be read, verified and repaired. ``mode="append"`` adds a
    shard; its ``params`` must equal the meta on disk, or it raises
    before anything is written. Ids must be unique across appends —
    the index models immutable document ids, not updates.

    ``sig`` is read twice (for the signatures table, then for the
    bands expanded from it), so it must be materialized and
    lineage-free w.r.t. this index (``localCheckpoint()`` it): the
    expensive shingle→sign pipeline then runs once, and an append
    cannot re-evaluate a plan that reads the table it just extended.

    Each table changes by one ``sources.io.commit`` (an overwrite
    replaces every file), so compaction can rewrite them. A crash
    between the two commits leaves a torn state that
    :func:`verify_index` reports and :func:`repair_index` heals."""
    spark = sig.sparkSession
    if mode == "append":
        meta = _append_meta(spark, path, params)
        commit(spark, f"{path}/signatures", sig)
        commit(spark, f"{path}/bands", _bands(sig, meta), partition_by=["band"])
    else:
        meta = {**params, **_SIGNATURE}
        write_meta(spark, path, meta)
        replace_table(spark, sig, f"{path}/signatures")
        replace_table(spark, _bands(sig, meta), f"{path}/bands", ["band"])


def verify_index(spark, path: str) -> dict:
    """Consistency report. The signatures table is the truth (written
    first), so the torn states are:

    - ``missing_band_ids`` — signed ids with NO band entries (the
      crash-between-writes state; probes silently never surface these
      ids as candidates);
    - ``incomplete_band_ids`` — ids with some but not ``bands_per_id``
      entries (not producible by the job-level commit: task-level
      tearing or external edits);
    - ``orphan_band_ids`` — band entries whose id has no signature.

    ``consistent`` is True iff all three are zero. Cost: one scan of
    each table — run on recovery/startup, not per batch."""
    n = int(read_index_meta(spark, path)["bands"])
    sig, bands = read_index(spark, path)
    ids = sig.select("id")
    per_id = bands.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    counts = ids.join(per_id, "id", "left").agg(
        F.count(F.lit(1)).alias("n_src"),
        F.sum(F.when(F.col("n").isNull(), 1).otherwise(0)).alias("missing"),
        F.sum(
            F.when(F.col("n").isNotNull() & (F.col("n") != n), 1).otherwise(0)
        ).alias("incomplete"),
    ).first()
    orphans = per_id.join(ids, "id", "left_anti").count()
    missing = int(counts["missing"] or 0)
    incomplete = int(counts["incomplete"] or 0)
    return {
        "signatures": int(counts["n_src"]),
        "missing_band_ids": missing,
        "incomplete_band_ids": incomplete,
        "orphan_band_ids": int(orphans),
        "bands_per_id": n,
        "consistent": missing == 0 and incomplete == 0 and orphans == 0,
    }


def repair_index(spark, path: str) -> dict:
    """Heal any torn state: rebuild the bands table from the
    signatures table with one commit that replaces every bands file
    (the bands are a pure function of the signatures, which live at
    another path — a crash mid-rewrite is recovered by the next
    commit, and a rerun repairs). Idempotent, and preserves
    ``incremental == full``: the repaired index is content-identical
    to one whose appends never tore. Returns the post-repair report."""
    report = verify_index(spark, path)
    if report["consistent"]:
        return report
    meta = read_index_meta(spark, path)
    sig = spark.read.parquet(f"{path}/signatures")
    replace_table(spark, _bands(sig, meta), f"{path}/bands", ["band"])
    return verify_index(spark, path)


def _cross_pairs(
    cand: DataFrame,
    corpus_sig: DataFrame,
    shard_sig: DataFrame,
    meta: dict,
    threshold: float,
) -> DataFrame:
    """Corpus × shard band collisions re-scored by estimated Jaccard
    from the signatures. The (corpus id, shard id) orientation is kept
    through scoring so each side joins its OWN signatures (no
    corpus ∪ shard union scan); ids canonicalize to ``id_a < id_b``
    only at the end — the estimate is symmetric."""
    old_new = (
        cand.filter(F.col("c.id") != F.col("n.id"))
        .select(F.col("c.id").alias("id_a"), F.col("n.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _score_candidates(
        old_new, corpus_sig, shard_sig, int(meta["num_hashes"]), threshold
    ).select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "est_jaccard",
    )


def probe_index(
    shard: DataFrame,
    path: str,
    threshold: float,
    *,
    update_index: bool = False,
    broadcast_new: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs touching a signed shard: shard vs the persisted
    corpus plus shard-internal, WITHOUT recomputing anything over the
    corpus. ``shard`` is ``(id, signature)`` and lineage-free
    (``localCheckpoint``), as for :func:`write_index`.

    Scale shape: the corpus bands are SCANNED once and never
    shuffled — with ``broadcast_new`` (default) the shard's bands
    broadcast onto the scan, so a day costs O(|shard| + |index| scan
    + |candidates|); set it False for a shard too large to broadcast
    (hash join on ``(band, bucket)``).

    Hot-bucket posture: the shard-internal leg runs the structural
    identical-signature guard of :func:`banded_pairs`. The corpus leg
    cannot collapse without shuffling the corpus — the cost this path
    exists to avoid — so its defense is ``max_bucket_size``: buckets
    holding more CORPUS entries than that are skipped as candidates
    (one count aggregate over the index scan, co-partitioned with the
    probe key). A recall trade the caller opts into; unset is exact.

    With ``update_index`` the shard is appended FIRST (eager) and the
    corpus side is the on-disk index minus the shard's ids, so
    index-update ∘ probe composes to exactly the full-recompute index.
    A crash after that append but before the caller lands its pairs
    must not skip the shard as "already indexed" on replay — callers
    that need exactly-once pairs probe with ``update_index=False`` and
    append after landing them (:func:`index_sink_batch`)."""
    spark = shard.sparkSession
    meta = read_index_meta(spark, path)
    if update_index:
        write_index(shard, path, meta, mode="append")
    corpus, corpus_bands = read_index(spark, path)
    if update_index:
        ids = shard.select("id")
        ids = F.broadcast(ids) if broadcast_new else ids
        corpus = corpus.join(ids, "id", "left_anti")
        corpus_bands = corpus_bands.join(ids, "id", "left_anti")
    key = ["band", "bucket"]
    corpus_bands = _cap_buckets(corpus_bands, key, max_bucket_size)
    shard_bands = _bands(shard, meta)
    if broadcast_new:
        shard_bands = F.broadcast(shard_bands)
    cand = corpus_bands.alias("c").join(shard_bands.alias("n"), key)
    # the two pair sets are disjoint by construction (one touches the
    # corpus, the other is shard-internal) — plain union, no re-dedup
    return _cross_pairs(cand, corpus, shard, meta, threshold).unionByName(
        banded_pairs(
            shard, meta["num_hashes"], meta["bands"], threshold, max_bucket_size
        )
    )


def index_sink_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    params: dict,
    threshold: float,
) -> None:
    """One micro-batch of ``(doc_id, text)`` rows through a persisted
    index with EXACTLY-ONCE pair output within a checkpoint lineage.
    Write order is the whole safety argument:

    1. the batch is signed and ids already in the index drop
       (explicit :func:`index_exists` test — a transient read failure
       raises and lets the checkpoint retry the batch, it is never
       mistaken for first-batch bootstrap);
    2. the batch's pairs (vs corpus and within the batch) land as an
       idempotent overwrite of the ``batch_id=<n>`` partition of
       ``pairs_path``;
    3. only then is the shard appended to the index.

    A crash before (3) replays into the same state and the partition
    overwrite replaces, never duplicates, the earlier attempt. A crash
    after (3) replays to an empty batch — "already indexed" proves the
    pairs already landed, because the append is the LAST durable step.
    A crash inside (3) can tear the index; ``repair_on_start`` of
    ``streaming.incremental.streaming_index_dedup`` heals it.

    ``params`` are the build parameters (``k``, ``num_hashes``,
    ``bands``). They bootstrap the index from the first batch and must
    equal the meta of an existing index (checked before anything is
    written). The signatures are locally checkpointed, NOT persisted,
    across (2) and (3): their plan anti-joins against the index's
    signatures table, and (3)'s append to that very path would make a
    persisted frame re-evaluate against the refreshed listing — where
    the shard's own ids are now excluded. ``batch_id`` partitions are
    scoped to one checkpoint lineage: a fresh checkpoint over the same
    paths is safe only because already-indexed ids skip in (1)."""
    spark = batch_df.sparkSession
    bootstrap = not index_exists(spark, index_path)
    if bootstrap:
        meta = {**params, **_SIGNATURE}
    else:
        meta = _append_meta(spark, index_path, params)
    sig = minhash_signatures_poly(
        batch_df, "doc_id", "text", meta["k"], meta["num_hashes"]
    )
    if not bootstrap:
        indexed = spark.read.parquet(f"{index_path}/signatures")
        sig = sig.join(indexed.select("id"), "id", "left_anti")
    sig = sig.localCheckpoint(eager=True)
    if sig.isEmpty():
        return
    if bootstrap:
        pairs = banded_pairs(sig, meta["num_hashes"], meta["bands"], threshold)
    else:
        pairs = probe_index(sig, index_path, threshold)
    pairs.write.mode("overwrite").parquet(f"{pairs_path}/batch_id={batch_id}")
    write_index(
        sig, index_path, params, "overwrite" if bootstrap else "append"
    )


def build_lsh_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    mode: str = "overwrite",
) -> None:
    """Persist a corpus LSH index (:func:`write_index`):
    ``<path>/signatures`` (id, signature),
    ``<path>/bands`` (id, band, bucket) and ``<path>/meta``.
    ``mode="append"`` adds a shard (used by the incremental path) and
    raises before writing if ``k``, ``num_hashes`` or ``bands``
    differ from the index's meta. The shingle→sign pipeline runs once;
    the band write is a projection of the checkpointed signatures."""
    sig = minhash_signatures_poly(docs, id_col, text_col, k, num_hashes)
    write_index(
        sig.localCheckpoint(eager=False),
        path,
        {"k": k, "num_hashes": num_hashes, "bands": bands},
        mode,
    )


def compact_lsh_index(
    spark, path: str, target_file_mb: int = 256
) -> dict:
    """Small-file compaction for a persisted LSH index. Daily
    ``mode="append"`` shards add one parquet file per band partition
    per day — a year of daily increments is ~365 files per band
    directory, and probe scan planning degrades with file count, not
    data size. Rewrites ``signatures`` (plain) and ``bands``
    (partition-preserving: still ``band=*`` directories, ~1 file per
    target size per partition), each as one table commit.

    Content-identical by construction — only file layout changes — so
    ``incremental == full`` and every probe/pair result is bit-for-bit
    unchanged (pinned by tests). Run it on the same cadence as any
    warehouse compaction (weekly, or when file counts cross a
    threshold — :func:`..sources.io.table_file_stats` reports them).
    Returns before/after file counts."""
    from ..sources import io as IO

    before_sig = len(IO.data_files(spark, f"{path}/signatures"))
    before_bands = len(IO.data_files(spark, f"{path}/bands"))
    IO.compact_parquet(spark, f"{path}/signatures", target_file_mb)
    IO.compact_partitioned_parquet(
        spark, f"{path}/bands", ["band"], target_file_mb
    )
    return {
        "signatures_files": (
            before_sig,
            len(IO.data_files(spark, f"{path}/signatures")),
        ),
        "bands_files": (
            before_bands,
            len(IO.data_files(spark, f"{path}/bands")),
        ),
    }


def incremental_lsh_pairs(
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    update_index: bool = True,
    broadcast_new: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental near-dup detection: today's shard vs a persisted
    corpus LSH index (:func:`probe_index`),
    WITHOUT recomputing anything over the corpus. The shard is signed
    with the ``k`` and ``num_hashes`` of the index's meta, once
    (checkpointed: the signatures feed the broadcast band side, the
    cross-leg scoring join and the shard-internal
    :func:`banded_pairs`).

    Returns every near-dup pair touching ≥1 new document —
    new-vs-corpus plus new-vs-new — scored and thresholded exactly
    like :func:`banded_pairs`, with ``id_a < id_b``. Equivalence
    contract (tested): given disjoint ids,
    ``full_pairs(corpus ∪ shard) == full_pairs(corpus) ∪
    incremental_lsh_pairs(shard, index(corpus))`` — signatures and
    band buckets are per-document, so restricting candidate
    generation to pairs touching the shard loses nothing. See
    :func:`probe_index` for ``update_index``, ``broadcast_new`` and
    ``max_bucket_size``."""
    meta = read_index_meta(new_docs.sparkSession, index_path)
    sig = minhash_signatures_poly(
        new_docs, id_col, text_col, meta["k"], meta["num_hashes"]
    ).localCheckpoint(eager=True)
    return probe_index(
        sig,
        index_path,
        threshold,
        update_index=update_index,
        broadcast_new=broadcast_new,
        max_bucket_size=max_bucket_size,
    )


def simhash_poly(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    bits: int = 60,
    prime: int = 2147483647,
) -> DataFrame:
    """SQL-replicable SimHash: each fingerprint bit j is the sign of
    Σ over grams of ±1, where the per-gram vote is bit-balanced by the
    affine family ((a_j·h + b_j) mod p ≥ (p+1)/2). Like
    :func:`minhash_signatures_poly`, every intermediate is exact
    integer arithmetic — the fingerprint longs hash-match an ANSI-SQL
    twin bit for bit. ``bits`` ≤ 62 keeps the packed long positive in
    both engines. Plan: explode grams → one groupBy with ``bits`` sums.
    Near-dup pairs are :func:`hamming_near_pairs` over the
    ``fingerprint`` column.
    """
    half = (prime + 1) // 2
    idx = TX.char_gram_hashes(df, id_col, text_col, k).select(
        "id", F.col("h").cast("long").alias("h")
    )
    params = _universal_hash_params(bits, seed=4242)
    # one parsed expression per vote / for the packed fold (round-13,
    # see minhash_signatures_poly — same trees, none of the py4j cost)
    votes = [
        F.expr(
            f"sum(CASE WHEN pmod(`h` * {a} + {b}, {int(prime)}) >= {half} "
            f"THEN 1 ELSE -1 END) AS s{j}"
        )
        for j, (a, b) in enumerate(params)
    ]
    agg = idx.groupBy("id").agg(*votes)

    def bit_sql(j: int) -> str:
        return (
            f"CASE WHEN `s{j}` >= 0 THEN CAST(1 AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END"
        )

    fp = F.expr(
        "("
        + bit_sql(0)
        + "".join(
            f" + ({bit_sql(j)} * CAST({1 << j} AS BIGINT))"
            for j in range(1, bits)
        )
        + ")"
    )
    return agg.select("id", fp.alias("fingerprint"))


def edit1_pairs(
    df: DataFrame,
    id_col: str,
    s_col: str,
) -> DataFrame:
    """Entity-resolution pairs at edit distance ≤ 1 via symmetric-
    delete blocking (the SymSpell construction): two strings within
    one edit ALWAYS share a member of each other's {self} ∪
    {one-char-deletions} sets, so exploding those variants and
    equi-joining on the variant finds every pair without any |corpus|²
    stage — the naive all-pairs levenshtein is quadratic and
    unshippable at scale. Candidates are deduped, then the exact
    ``levenshtein`` filter (JVM-side) removes the false positives
    (distance-2 pairs sharing a variant).

    Output: (id_a, id_b, s_a, s_b, dist) with id_a < id_b, dist ≤ 1.
    Row amplification = string length (bounded); the variant join is
    a hash equi-join on short strings.
    """
    s = F.col(s_col)
    deletes = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            s.substr(F.lit(1), i - 1),
            s.substr(i + 1, F.length(s)),
        ),
    )
    v = df.select(
        F.col(id_col).alias("id"),
        s.alias("s"),
        F.explode(F.array_union(F.array(s), deletes)).alias("variant"),
    )
    a, b = v.alias("a"), v.alias("b")
    # pre-filter dedup STAYS (round-13 measured both orders, as for
    # the minhash family): near-identical strings share ~len variants,
    # and since most of them belong to pairs that PASS the distance
    # filter here, postponing the dedup re-ran levenshtein on the
    # ~20×-duplicated stream and re-shuffled almost the same rows —
    # interleaved A/B read 0.71× for the postponed form.
    cand = (
        a.join(b, "variant")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.s").alias("s_a"),
            F.col("b.s").alias("s_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # banded levenshtein (threshold=1): O(len) per pair instead of
    # O(len²), returns -1 when the distance exceeds the bound — kept
    # rows and their dist values are identical to the unbounded form
    return cand.withColumn(
        "dist", F.levenshtein("s_a", "s_b", 1)
    ).filter((F.col("dist") >= 0) & (F.col("dist") <= 1))


def substring_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 40,
    min_docs: int = 2,
) -> DataFrame:
    """EXACT substring deduplication (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    operation, re-expressed relationally): find every maximal span of
    a document covered by overlapping-or-adjacent ``k``-char windows
    that each occur in at least ``min_docs`` distinct documents — the
    boilerplate/licence-header/template regions a training pipeline
    clips out, which whole-document dedup (exact/MinHash/SimHash
    above) cannot see because the surrounding text differs.

    Span semantics, precisely: the gaps-and-islands merge starts a
    new island only when a hit position exceeds the previous
    window's END + 1, so a span guarantees every char of it lies
    inside SOME duplicated window (coverage), and duplicated windows
    up to k-1 positions apart (still overlapping/adjacent in char
    terms) merge into one span. It does NOT guarantee that every
    k-char window STARTING inside the span is itself duplicated —
    that stricter per-start property would need the island break
    ``pos > prev_pos + 1`` and clips spans at the last duplicated
    start. Coverage is the Lee et al. clipping contract (the merged
    region is exactly the text removable as duplicated bytes).

    Relational plan (no suffix array needed for fixed-k windows):
    every stride-1 window is generated JVM-side (``transform`` over a
    position ``sequence``, windows materialized inside the struct so
    exploded rows never carry the full text), duplicated windows are
    one groupBy, and maximal spans are the gaps-and-islands merge of
    each doc's hit positions. Output: one row per (doc, span) —
    ``(doc_id, span_idx, span_start, span_end, span_len,
    n_windows)``, 1-based inclusive char positions.

    Scale (100 TB): row amplification is |text| per doc but each
    exploded row is k chars + 2 ints; the window groupBy is the one
    big shuffle and keys are near-unique (no skew by construction —
    a window string is its own uniform key; at petabyte scale swap
    the string key for ``xxhash64(win)`` to shuffle 8 bytes instead
    of k — same plan shape). The islands stage shuffles only the
    duplicated hits. No Python anywhere."""
    if k < 2:
        raise ValueError("k must be >= 2")
    if min_docs < 1:
        raise ValueError("min_docs must be >= 1")
    s = F.col(text_col)
    empty = F.array().cast(f"array<struct<pos:int,win:string>>")
    wins = df.select(
        F.col(id_col).alias(id_col),
        F.explode(
            F.when(
                F.length(s) >= k,
                F.transform(
                    F.sequence(F.lit(1), F.length(s) - k + 1),
                    lambda i: F.struct(
                        i.alias("pos"), s.substr(i, F.lit(k)).alias("win")
                    ),
                ),
            ).otherwise(empty)
        ).alias("w"),
    ).select(id_col, F.col("w.pos").alias("pos"), F.col("w.win").alias("win"))
    dup = (
        wins.groupBy("win")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("win")
    )
    hits = wins.join(dup, "win", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_isl = F.when(
        prev_end.isNull() | (F.col("pos") > prev_end + 1), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        hits.withColumn(
            "span_idx",
            F.sum(new_isl).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "span_idx")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .withColumn("span_len", F.col("span_end") - F.col("span_start") + 1)
        .select(
            id_col, "span_idx", "span_start", "span_end", "span_len",
            "n_windows",
        )
    )
