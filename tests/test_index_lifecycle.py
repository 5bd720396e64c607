"""Multi-day lifecycle of the persisted LSH / IVF indexes: N sequential
daily appends compose to one full build, small-file compaction changes
file layout but not one bit of any result, torn appends are detected
and repaired, and infrastructure faults raise instead of silently
returning 'no candidates'."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    dedup as DD,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    similarity as SIM,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import (
    io as IO,
    read_table,
)

K_DAYS = 5
LSH_PARAMS = {"k": 3, "num_hashes": 64, "bands": 16}


def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents").select("doc_id", "text")


def _pair_set(df):
    return {
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 9)) for r in df.collect()
    }


def _sig_set(df):
    return {(r["id"], tuple(r["signature"])) for r in df.collect()}


def _band_set(df):
    return {(r["id"], r["band"], r["bucket"]) for r in df.collect()}


def test_n_day_append_composes_to_full_build(spark, sf_dir, tmp_path):
    """K=5 sequential daily shards through incremental_lsh_pairs ==
    one full build + full pair recompute (the reference's own daily
    cadence — dags/vcapital_staging/tasks/components/extract.py:41-43 —
    extended past the single-shard equivalence test of round 5)."""
    docs = _docs(spark, sf_dir)
    index = str(tmp_path / "idx")

    DD.build_lsh_index(docs.filter(F.col("doc_id") % K_DAYS == 0), index)
    accumulated = set()
    for day in range(1, K_DAYS):
        shard = docs.filter(F.col("doc_id") % K_DAYS == day)
        accumulated |= _pair_set(
            DD.incremental_lsh_pairs(shard, index, threshold=0.5)
        )

    full = str(tmp_path / "full")
    DD.build_lsh_index(docs, full)
    sig_inc, bands_inc = DD.read_index(spark, index)
    sig_full, bands_full = DD.read_index(spark, full)
    assert _sig_set(sig_inc) == _sig_set(sig_full)
    assert _band_set(bands_inc) == _band_set(bands_full)

    # pairs: day-0 internal pairs never got emitted (they predate the
    # incremental runs) — everything else must match the full recompute
    want = _pair_set(
        DD.minhash_lsh_pairs_poly(docs, "doc_id", "text", threshold=0.5)
    )
    day0_internal = {
        p for p in want if p[0] % K_DAYS == 0 and p[1] % K_DAYS == 0
    }
    assert accumulated == want - day0_internal

    # index is self-describing across the lifecycle
    assert IO.read_meta(spark, index) == {
        "k": 3,
        "num_hashes": 64,
        "bands": 16,
        "signature": "poly",
    }


def test_index_of_another_signature_family_is_refused(spark, sf_dir, tmp_path):
    """Index metadata is read from disk: an index whose meta names a
    signature family other than ``poly`` raises on probe and on
    append — it is never probed or extended with poly signatures —
    and the refused append writes nothing."""
    docs = _docs(spark, sf_dir)
    index = str(tmp_path / "idx")
    DD.build_lsh_index(docs.filter(F.col("doc_id") % 2 == 0), index)
    meta = dict(IO.read_meta(spark, index), signature="xxhash")
    IO.write_meta(spark, index, meta)
    before = _sig_set(spark.read.parquet(f"{index}/signatures"))
    shard = docs.filter(F.col("doc_id") % 2 == 1)
    for update_index in (True, False):
        with pytest.raises(ValueError, match="xxhash"):
            DD.incremental_lsh_pairs(shard, index, update_index=update_index)
    with pytest.raises(ValueError, match="xxhash"):
        DD.build_lsh_index(shard, index, mode="append")
    assert _sig_set(spark.read.parquet(f"{index}/signatures")) == before


def test_compact_lsh_index_preserves_results_and_cuts_files(
    spark, sf_dir, tmp_path
):
    """Compaction after K daily appends: band-partition layout kept,
    file count drops to ~1 per partition, and both the index CONTENT
    and a post-compaction incremental day are bit-for-bit unchanged."""
    docs = _docs(spark, sf_dir)
    index = str(tmp_path / "idx")
    DD.build_lsh_index(docs.filter(F.col("doc_id") % K_DAYS == 0), index)
    for day in range(1, K_DAYS - 1):
        DD.incremental_lsh_pairs(
            docs.filter(F.col("doc_id") % K_DAYS == day), index
        ).count()

    sig_before, bands_before = DD.read_index(spark, index)
    sig_snap, bands_snap = _sig_set(sig_before), _band_set(bands_before)
    files_before = len(IO.data_files(spark, f"{index}/bands"))

    report = DD.compact_lsh_index(spark, index)
    files_after = len(IO.data_files(spark, f"{index}/bands"))
    assert report["bands_files"] == (files_before, files_after)
    # K-1 appends x 16 band dirs accumulate >= (K-1) files per dir;
    # compaction collapses each dir to one (tiny data << target size)
    assert files_before >= 16 * (K_DAYS - 1)
    assert files_after == 16

    sig_after, bands_after = DD.read_index(spark, index)
    assert _sig_set(sig_after) == sig_snap
    assert _band_set(bands_after) == bands_snap

    # the NEXT daily shard over the compacted index still equals the
    # full-recompute restriction (incremental == full survives)
    last = K_DAYS - 1
    got = _pair_set(
        DD.incremental_lsh_pairs(
            docs.filter(F.col("doc_id") % K_DAYS == last), index
        )
    )
    want = {
        p
        for p in _pair_set(
            DD.minhash_lsh_pairs_poly(docs, "doc_id", "text", threshold=0.5)
        )
        if p[0] % K_DAYS == last or p[1] % K_DAYS == last
    }
    assert got == want
    # still consistent per the verifier
    assert DD.verify_index(spark, index)["consistent"]


def test_torn_append_detected_and_repaired(spark, sf_dir, tmp_path):
    """Crash injection between the signature write and the band write
    (build_lsh_index's commit order): the verifier reports the torn
    ids, repair re-expands them from the persisted signatures, and the
    repaired index answers exactly like one that never tore."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    shard = docs.filter(F.col("doc_id") % 3 == 1)
    index = str(tmp_path / "idx")
    DD.build_lsh_index(corpus, index)

    # simulate the crash: commit the shard's SIGNATURES only
    IO.commit(
        spark, f"{index}/signatures",
        DD.minhash_signatures_poly(shard, "doc_id", "text", 3, 64),
    )

    report = DD.verify_index(spark, index)
    assert not report["consistent"]
    assert report["missing_band_ids"] == shard.count()
    assert report["incomplete_band_ids"] == 0
    assert report["orphan_band_ids"] == 0

    healed = DD.repair_index(spark, index)
    assert healed["consistent"]
    # idempotent: repairing a consistent index is a no-op
    assert DD.repair_index(spark, index)["consistent"]

    clean = str(tmp_path / "clean")
    DD.build_lsh_index(corpus.unionByName(shard), clean)
    sig_r, bands_r = DD.read_index(spark, index)
    sig_c, bands_c = DD.read_index(spark, clean)
    assert _sig_set(sig_r) == _sig_set(sig_c)
    assert _band_set(bands_r) == _band_set(bands_c)

    # probes over the repaired index: next shard's pairs == clean-index pairs
    nxt = docs.filter(F.col("doc_id") % 3 == 2)
    got = _pair_set(
        DD.incremental_lsh_pairs(nxt, index, update_index=False)
    )
    want = _pair_set(
        DD.incremental_lsh_pairs(nxt, clean, update_index=False)
    )
    assert got == want


def test_orphan_band_entries_trigger_full_rebuild(spark, sf_dir, tmp_path):
    """Band entries whose id has no signature (not producible by the
    write order — models a faulty writer committing bad entries) route
    to the rebuild-from-signatures path and are purged."""
    docs = _docs(spark, sf_dir)
    index = str(tmp_path / "idx")
    DD.build_lsh_index(docs.filter(F.col("doc_id") % 2 == 0), index)
    # inject orphan band rows for ids that have no signature
    orphans = DD.band_entries(
        DD.minhash_signatures_poly(
            docs.filter(F.col("doc_id") % 2 == 1).limit(5),
            "doc_id",
            "text",
            3,
            64,
        ),
        64,
        16,
    )
    IO.commit(spark, f"{index}/bands", orphans, partition_by=["band"])
    report = DD.verify_index(spark, index)
    assert report["orphan_band_ids"] > 0
    healed = DD.repair_index(spark, index)
    assert healed["consistent"]
    sig, bands = DD.read_index(spark, index)
    assert _band_set(bands) == _band_set(
        DD.band_entries(sig, 64, 16)
    )


def test_read_lsh_index_raises_on_corrupt_bands(spark, sf_dir, tmp_path):
    """A corrupt band file must RAISE, never silently degrade to 'no
    corpus candidates' (the pre-round-6 blanket except did exactly
    that)."""
    docs = _docs(spark, sf_dir).limit(50)
    index = str(tmp_path / "idx")
    DD.build_lsh_index(docs, index)
    bad = tmp_path / "idx" / "bands" / "band=0" / "part-corrupt.parquet"
    bad.write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception):
        sig, bands = DD.read_index(spark, index)
        bands.count()


def test_missing_index_read_raises_not_empty(spark, tmp_path):
    """Reading a nonexistent index path raises (typo'd path is an
    error, not an empty corpus); existence is queried explicitly."""
    missing = str(tmp_path / "nope")
    assert not DD.index_exists(spark, missing)
    with pytest.raises(Exception):
        DD.read_index(spark, missing)


def test_broadcast_flag_result_invariant(spark, sf_dir, tmp_path):
    """``broadcast_new`` picks only how the shard's bands join the
    index scan (broadcast, or a hash join on ``(band, bucket)``): both
    probes return the same pairs."""
    docs = _docs(spark, sf_dir)
    index = str(tmp_path / "idx")
    DD.build_lsh_index(docs.filter(F.col("doc_id") % 2 == 0), index)
    shard = docs.filter(F.col("doc_id") % 2 == 1)
    broadcast, hashed = (
        _pair_set(
            DD.incremental_lsh_pairs(
                shard, index, update_index=False, broadcast_new=flag
            )
        )
        for flag in (True, False)
    )
    assert broadcast and broadcast == hashed


def test_empty_corpus_index_probes_cleanly(spark, sf_dir, tmp_path):
    """An index built from an empty corpus has no band directories: it
    verifies, a lone document probes to an empty frame with the pair
    schema, and a shard still finds its own near-dups."""
    docs = _docs(spark, sf_dir)
    index = str(tmp_path / "idx")
    DD.build_lsh_index(docs.limit(0), index)
    assert DD.verify_index(spark, index)["signatures"] == 0

    lone = DD.incremental_lsh_pairs(docs.limit(1), index, update_index=False)
    assert lone.isEmpty()
    assert lone.dtypes == [
        ("id_a", "bigint"), ("id_b", "bigint"), ("est_jaccard", "double")
    ]
    shard = docs.filter(F.col("doc_id") % 2 == 1)
    got = _pair_set(DD.incremental_lsh_pairs(shard, index, update_index=False))
    want = _pair_set(
        DD.minhash_lsh_pairs_poly(shard, "doc_id", "text", threshold=0.5)
    )
    assert got and got == want


def test_sink_crash_between_pairs_and_append_is_exactly_once(
    spark, sf_dir, tmp_path
):
    """Replay of the crash window the round-5 design lost pairs in: a
    batch whose PAIRS landed but whose index append never ran must, on
    replay, recompute identical pairs (idempotent partition overwrite)
    and complete the append — no loss, no duplication."""
    docs = _docs(spark, sf_dir)
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    index = str(tmp_path / "idx")
    pairs = str(tmp_path / "pairs")

    DD.index_sink_batch(b0, 0, index, pairs, LSH_PARAMS, 0.5)
    n_sig_after_b0 = DD.read_index(spark, index)[0].count()

    # crashed attempt at batch 1: pairs written, index append skipped
    crashed_pairs = DD.incremental_lsh_pairs(b1, index, update_index=False)
    crashed_pairs.write.mode("overwrite").parquet(f"{pairs}/batch_id=1")
    assert DD.read_index(spark, index)[0].count() == n_sig_after_b0

    # replay the batch through the real sink
    DD.index_sink_batch(b1, 1, index, pairs, LSH_PARAMS, 0.5)
    got = _pair_set(
        spark.read.parquet(pairs).select("id_a", "id_b", "est_jaccard")
    )
    want = _pair_set(
        DD.minhash_lsh_pairs_poly(
            b0.unionByName(b1), "doc_id", "text", threshold=0.5
        )
    )
    assert got == want  # nothing lost, nothing duplicated
    # and the append completed
    assert DD.read_index(spark, index)[0].count() == b0.count() + b1.count()

    # second replay (crash AFTER append): skips cleanly, pairs intact
    DD.index_sink_batch(b1, 1, index, pairs, LSH_PARAMS, 0.5)
    assert (
        _pair_set(
            spark.read.parquet(pairs).select("id_a", "id_b", "est_jaccard")
        )
        == got
    )


def test_compact_ivf_index_preserves_probe_results(spark, sf_dir, tmp_path):
    """IVF cells compaction: cell=* layout kept, file count drops, and
    probe results are bit-for-bit identical before/after."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    index = str(tmp_path / "ivf")
    SIM.build_ivf_index(corpus, index, n_centroids=8)
    # daily appends accumulate small files per cell dir
    for day in (1, 2, 3):
        SIM.append_ivf_index(
            emb.filter(
                (F.col("vec_id") % 4 == 0) & (F.col("vec_id") % 3 == day - 1)
            ),
            index,
        )
    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine_sim"])
        for r in SIM.ivf_probe_index(queries, index, k=5, n_probe=3).collect()
    }
    files_before = len(IO.data_files(spark, f"{index}/cells"))
    report = SIM.compact_ivf_index(spark, index)
    files_after = len(IO.data_files(spark, f"{index}/cells"))
    assert report["cells_files"] == (files_before, files_after)
    assert files_after < files_before
    after = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine_sim"])
        for r in SIM.ivf_probe_index(queries, index, k=5, n_probe=3).collect()
    }
    assert after == before
    # the shuffled-join escape hatch returns the same rows bit-for-bit
    shuffled = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine_sim"])
        for r in SIM.ivf_probe_index(
            queries, index, k=5, n_probe=3, broadcast_queries=False
        ).collect()
    }
    assert shuffled == before


def _int8_probe_set(df):
    return {
        (r["query_id"], r["rank"], r["neighbor_id"], r["dot_int"], r["score"])
        for r in df.collect()
    }


def test_int8_ivf_append_equals_rebuild_and_recall(spark, sf_dir, tmp_path):
    """The serving-tier composition (r7): int8 vectors INSIDE the
    persisted IVF cells. Pins (a) append==rebuild for the quantized
    tier (frozen centroids + identical write-time quantization), (b)
    tier auto-detection on append and probe, (c) recall vs the float
    IVF probe of the same index geometry, (d) compaction preserving
    the quantized probe bit-for-bit."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cent_src = emb.filter(F.col("vec_id") < 8)
    base = emb.filter(F.col("vec_id") % 3 != 0)
    shard = emb.filter(F.col("vec_id") % 3 == 0)
    queries = emb.filter(F.col("vec_id") % 89 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    inc = str(tmp_path / "ivf_q_inc")
    SIM.build_ivf_index(
        base, inc, n_centroids=8, centroid_source=cent_src, quantize=True
    )
    # tier is self-describing: the append quantizes without being told
    SIM.append_ivf_index(shard, inc)

    oneshot = str(tmp_path / "ivf_q_full")
    SIM.build_ivf_index(
        emb, oneshot, n_centroids=8, centroid_source=cent_src, quantize=True
    )
    got_inc = _int8_probe_set(
        SIM.ivf_probe_index(queries, inc, k=5, n_probe=3)
    )
    got_full = _int8_probe_set(
        SIM.ivf_probe_index(queries, oneshot, k=5, n_probe=3)
    )
    assert got_inc == got_full and got_full

    # recall vs the float tier with identical geometry: the int8 tier
    # must mostly agree on who the neighbors are
    flt = str(tmp_path / "ivf_float")
    SIM.build_ivf_index(
        emb, flt, n_centroids=8, centroid_source=cent_src
    )
    float_ids = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.ivf_probe_index(queries, flt, k=5, n_probe=3).collect()
    }
    int8_ids = {(q, n) for q, _rk, n, _d, _s in got_full}
    assert float_ids, "no float probe results — fixture broke"
    recall = len(int8_ids & float_ids) / len(float_ids)
    assert recall >= 0.6, f"int8 IVF recall {recall:.2f} vs float IVF"

    # compaction is tier-agnostic: bit-identical quantized probes
    report = SIM.compact_ivf_index(spark, oneshot)
    assert report["cells_files"][1] <= report["cells_files"][0]
    assert (
        _int8_probe_set(SIM.ivf_probe_index(queries, oneshot, k=5, n_probe=3))
        == got_full
    )


def test_int8_ivf_empty_corpus_probe_shape(spark, tmp_path):
    """Empty quantized index: probes return the int8-shaped empty
    frame (dot_int/score columns), not the float shape."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf_q_empty")
    assert (
        SIM.build_ivf_index(empty, path, n_centroids=4, quantize=True) == 0
    )
    q = spark.createDataFrame([], "query_id long, embedding array<float>")
    out = SIM.ivf_probe_index(q, path, k=3)
    assert out.columns == [
        "query_id", "rank", "neighbor_id", "dot_int", "score",
    ]
    assert out.count() == 0


def test_maybe_compact_index_30_day_loop_bounded_and_bit_identical(
    spark, sf_dir, tmp_path
):
    """The auto-compaction POLICY (r7): 30 simulated daily appends
    with maybe_compact_index after each. Must (a) keep the file count
    bounded (never grows past threshold + one day's worth), (b) not
    thrash (compactions ≪ days — hysteresis: a just-compacted index
    is below the count floor), (c) leave the final probe bit-for-bit
    equal to a never-compacted twin fed the same appends."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        maintenance as MNT,
    )

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cent_src = emb.filter(F.col("vec_id") < 8)
    base = emb.filter(F.col("vec_id") % 31 == 30)  # tiny seed
    managed = str(tmp_path / "ivf_managed")
    twin = str(tmp_path / "ivf_twin")
    for p in (managed, twin):
        SIM.build_ivf_index(
            base, p, n_centroids=8, centroid_source=cent_src
        )

    min_files = 48
    n_compactions = 0
    max_seen = 0
    for day in range(30):
        shard = emb.filter(F.col("vec_id") % 31 == day)
        SIM.append_ivf_index(shard, managed)
        SIM.append_ivf_index(shard, twin)
        r = MNT.maybe_compact_index(spark, managed, min_files=min_files)
        max_seen = max(max_seen, r["n_files"])
        if r["compacted"]:
            n_compactions += 1
            assert r["report"]["cells_files"][1] < r["report"]["cells_files"][0]
    # bounded: the policy never let the count run away (one day adds
    # at most n_centroids files past the floor before firing)
    assert max_seen <= min_files + 8 + 1, max_seen
    # hysteresis: fired a handful of times, not ~daily
    assert 1 <= n_compactions <= 10, n_compactions
    # immediately after the loop, a second call must be a no-op if the
    # last day compacted, and in ANY case two consecutive calls cannot
    # both compact (the first resets the count below the floor)
    r1 = MNT.maybe_compact_index(spark, managed, min_files=min_files)
    r2 = MNT.maybe_compact_index(spark, managed, min_files=min_files)
    assert not (r1["compacted"] and r2["compacted"])
    assert not r2["compacted"]

    queries = emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    probe = lambda p: {
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine_sim"])
        for r in SIM.ivf_probe_index(queries, p, k=5, n_probe=3).collect()
    }
    assert probe(managed) == probe(twin) and probe(twin)


def test_maybe_compact_index_lsh_kind_detection_and_threshold(
    spark, sf_dir, tmp_path
):
    """Policy over an LSH index: layout detection picks the LSH
    compactor, a too-large mean file size disarms the trigger, and a
    fired compaction leaves pair results bit-identical."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        maintenance as MNT,
    )
    import pytest as _pytest

    docs = _docs(spark, sf_dir)
    index = str(tmp_path / "lsh_managed")
    DD.build_lsh_index(
        docs.filter(F.col("doc_id") % 5 == 0), index, k=3,
        num_hashes=16, bands=4,
    )
    for day in (1, 2, 3, 4):
        DD.incremental_lsh_pairs(
            docs.filter(F.col("doc_id") % 5 == day), index
        ).collect()
    assert MNT.index_kind(spark, index) == "lsh"
    before = _sig_set(DD.read_index(spark, index)[0])

    # mean-size guard: with a tiny floor fraction the mean is "fine",
    # so even a high file count must NOT trigger
    r_guard = MNT.maybe_compact_index(
        spark, index, min_files=4, mean_floor_frac=1e-12
    )
    assert not r_guard["compacted"]
    # real thresholds: small test files are far below 25% of 256 MB
    r = MNT.maybe_compact_index(spark, index, min_files=4)
    assert r["kind"] == "lsh" and r["compacted"]
    assert r["report"]["bands_files"][1] <= r["report"]["bands_files"][0]
    assert _sig_set(DD.read_index(spark, index)[0]) == before

    with _pytest.raises(ValueError):
        MNT.index_kind(spark, str(tmp_path / "not_an_index"))

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
pytestmark = pytest.mark.slow
