"""Round-9 operator behavior: the four ADVICE r8 hardening fixes.

Each was a latent edge-case (NULL ids slipping through decontamination,
opaque errors on empty predicate lists, ambiguous survivorship columns,
spec-legal JPEG fill bytes misparsing) — pinned here so they stay
fixed. JPEG/AVI round-9 coverage lives in test_jpeg_codec.py /
test_avi_mjpeg.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
    dedup as DD,
    layout as LAY,
    linkage as LK,
)


def test_decontaminate_drops_null_id_contaminated_docs(spark):
    """ADVICE r8: a NULL-id train doc sharing eval n-grams must NOT
    survive decontamination (the old equi-anti-join was null-rejecting
    and silently passed it through)."""
    train = spark.createDataFrame(
        [
            (None, "the quick brown fox jumps over the lazy dog today"),
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated text with no overlap whatsoever here"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    kept = DD.decontaminate(train, eval_df, n=5).collect()
    kept_ids = {r["doc_id"] for r in kept}
    assert kept_ids == {2}, kept_ids  # NULL-id contaminated doc dropped too


def test_decontaminate_keeps_clean_null_id_docs(spark):
    train = spark.createDataFrame(
        [(None, "completely unrelated text with no overlap whatsoever here")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    assert DD.decontaminate(train, eval_df, n=5).count() == 1


def test_pruned_read_multi_empty_preds_raises(spark, tmp_path):
    """ADVICE r8: empty predicate list is a caller bug -> clear
    ValueError, not an opaque filter(None) TypeError."""
    path = str(tmp_path / "t")
    spark.range(10).withColumn("v", F.col("id") * 2).write.parquet(path)
    zones = LAY.collect_zone_maps(spark, path, ["v"])
    with pytest.raises(ValueError, match="non-empty"):
        LAY.pruned_read_multi(spark, path, zones, [])


def test_golden_records_overlapping_rule_columns_raise(spark):
    """ADVICE r8: a column assigned to BOTH survivorship rules would
    produce a duplicate/ambiguous output column; fail fast instead."""
    records = spark.createDataFrame(
        [(1, "a"), (2, "b")], "rec_id long, name string"
    )
    components = spark.createDataFrame(
        [(1, 1), (2, 1)], "id long, component long"
    )
    with pytest.raises(ValueError, match="disjoint"):
        LK.golden_records(
            records,
            components,
            "rec_id",
            first_nonnull_cols=["name"],
            mode_cols=["name"],
        )


# ---------------------------------------------------------------------------
# quota_mix — largest-remainder dataset mixing
# ---------------------------------------------------------------------------


def _lr_reference(counts: dict[str, int], weights_ppm: dict[str, int], total: int):
    """Python largest-remainder reference (independent of the Spark
    implementation)."""
    seats = {}
    rems = []
    base_sum = 0
    for s in weights_ppm:
        ideal = total * weights_ppm[s]
        seats[s] = ideal // 1_000_000
        base_sum += seats[s]
        rems.append((-(ideal % 1_000_000), s))
    for _, s in sorted(rems)[: total - base_sum]:
        seats[s] += 1
    return {s: min(q, counts.get(s, 0)) for s, q in seats.items()}


def test_quota_mix_exact_seats(spark):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        sampling as SMP,
    )

    rows = [(i, f"s{i % 4}") for i in range(100)]  # 25 per source
    df = spark.createDataFrame(rows, "doc_id long, source string")
    w = {"s0": 500000, "s1": 300000, "s2": 150000, "s3": 50000}
    out = SMP.quota_mix(df, "source", "doc_id", 37, weights_ppm=w)
    got = {r["source"]: r["n"] for r in out.groupBy("source").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    ref = _lr_reference({f"s{i}": 25 for i in range(4)}, w, 37)
    ref = {k: v for k, v in ref.items() if v > 0}
    assert got == ref
    assert sum(got.values()) == 37  # all quotas satisfiable -> exact total


def test_quota_mix_proportional_and_undershoot(spark):
    from pyspark.sql import functions as F

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        sampling as SMP,
    )

    # skewed sizes: 60 / 30 / 10 rows; proportional 50-seat mix
    rows = (
        [(i, "big") for i in range(60)]
        + [(100 + i, "mid") for i in range(30)]
        + [(200 + i, "small") for i in range(10)]
        + [(300, None)]  # NULL source never sampled
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = SMP.quota_mix(df, "source", "doc_id", 50)
    got = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert got == {"big": 30, "mid": 15, "small": 5}
    # quota above availability -> every row of that source, no stealing
    out2 = SMP.quota_mix(
        df, "source", "doc_id", 100,
        weights_ppm={"small": 500000, "big": 500000},
    )
    got2 = {
        r["source"]: r["n"]
        for r in out2.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert got2 == {"small": 10, "big": 50}  # small undershoots its 50


def test_quota_mix_determinism_and_salt(spark):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        sampling as SMP,
    )

    rows = [(i, f"s{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = sorted(r["doc_id"] for r in SMP.quota_mix(df, "source", "doc_id", 30).collect())
    b = sorted(r["doc_id"] for r in SMP.quota_mix(df, "source", "doc_id", 30).collect())
    c = sorted(
        r["doc_id"]
        for r in SMP.quota_mix(df, "source", "doc_id", 30, salt="x").collect()
    )
    assert a == b
    assert len(c) == len(a) and c != a  # same quotas, different draw


def test_quota_mix_validation(spark):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        sampling as SMP,
    )

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError, match="1_000_000"):
        SMP.quota_mix(df, "source", "doc_id", 10, weights_ppm={"a": 999})
    with pytest.raises(ValueError, match=">= 0"):
        SMP.quota_mix(df, "source", "doc_id", -1)


# ---------------------------------------------------------------------------
# pack_chunks — concat-then-chunk sequence packing
# ---------------------------------------------------------------------------


def test_pack_chunks_matches_python_reference(spark):
    import hashlib

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        sampling as SMP,
    )

    # lengths exercise: exact-boundary doc (512), doc > chunk (1300,
    # spans 3+ chunks), tiny docs, zero/NULL excluded
    rows = [(1, 512), (2, 1300), (3, 7), (4, 505), (5, 512), (6, 1),
            (7, None), (8, 0)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = sorted(
        (r["id"], r["chunk_id"], r["doc_off"], r["chunk_off"], r["n_toks"])
        for r in SMP.pack_chunks(df, "doc_id", "n", 512).collect()
    )
    docs = sorted(
        ((hashlib.md5(str(i).encode()).hexdigest(), i, n) for i, n in rows if n),
        key=lambda t: (t[0], t[1]),
    )
    pos, ref = 0, []
    for _, i, n in docs:
        s, e = pos, pos + n
        k = s // 512
        while k * 512 < e:
            ss, ee = max(s, k * 512), min(e, (k + 1) * 512)
            ref.append((i, k, ss - s, ss - k * 512, ee - ss))
            k += 1
        pos = e
    assert got == sorted(ref)
    # stream-conservation invariants
    total = sum(n for _, n in rows if n)
    assert sum(t[4] for t in got) == total
    per_chunk = {}
    for _, k, _, _, t in got:
        per_chunk[k] = per_chunk.get(k, 0) + t
    last = max(per_chunk)
    assert all(v == 512 for k, v in per_chunk.items() if k != last)
    # per-doc offsets reassemble the doc exactly
    per_doc = {}
    for i, _, off, _, t in got:
        per_doc.setdefault(i, []).append((off, t))
    for i, n in rows:
        if not n:
            continue
        segs = sorted(per_doc[i])
        assert segs[0][0] == 0 and sum(t for _, t in segs) == n
        acc = 0
        for off, t in segs:
            assert off == acc
            acc += t


def test_pack_chunks_salt_and_validation(spark):
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import (
        sampling as SMP,
    )

    df = spark.createDataFrame(
        [(i, 100) for i in range(20)], "doc_id long, n long"
    )
    a = {(r["id"], r["chunk_id"]) for r in SMP.pack_chunks(df, "doc_id", "n", 256).collect()}
    b = {(r["id"], r["chunk_id"]) for r in SMP.pack_chunks(df, "doc_id", "n", 256, salt="x").collect()}
    assert a != b  # different order -> different chunk assignment
    with pytest.raises(ValueError, match="positive"):
        SMP.pack_chunks(df, "doc_id", "n", 0)

# round-13: GATE-covered heavy suite — deselected from the default
# (driver-budget) collection, runs via tools/round_gate.py / -m 'slow or not slow'
pytestmark = pytest.mark.slow
