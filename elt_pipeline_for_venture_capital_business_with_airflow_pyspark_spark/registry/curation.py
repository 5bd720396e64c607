"""Registry family: curation (6 queries).

- curation_pipeline
- curation_blocklist_filter
- curation_quality_percentile
- curation_quality_gate
- curation_pack_sequences
- curation_lm_perplexity_gate
"""

from ._shared import *  # noqa: F401,F403
from ._shared import _register  # noqa: F401



@_register(
    "curation_pipeline",
    """
    WITH scored AS (
      SELECT doc_id, lang, text,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^ ]', '', 'g')) + 1 AS n_tokens
      FROM documents
      WHERE text IS NOT NULL AND length(text) >= 120
    ), deduped AS (
      SELECT MIN(doc_id) AS doc_id, md5(text) AS fp
      FROM scored GROUP BY md5(text)
    )
    SELECT s.doc_id, s.lang, s.n_chars, s.n_tokens,
           CASE WHEN substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 2) < '0d'
                THEN 'eval' ELSE 'train' END AS split
    FROM scored s JOIN deduped d ON s.doc_id = d.doc_id
    """,
)
def _curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship composed curation pipeline — the end-to-end shape a
    training-data run takes: length gate (>=120 chars) → exact dedup (md5
    fingerprint, min-id canonical survivor) → deterministic md5-prefix
    train/eval split (~5% eval). Every stage is the scale path: one
    scan, one dedup shuffle, split is a pushed-down predicate. The
    near-dup LSH stage is exercised and hash-checked separately
    (dedup_minhash_poly, dedup_survivors)."""
    docs = read_table(spark, sf, "documents")
    scored = docs.filter(
        F.col("text").isNotNull() & (F.length("text") >= 120)
    ).select(
        "doc_id",
        "lang",
        "text",
        F.length("text").alias("n_chars"),
        (F.length(F.regexp_replace("text", "[^ ]", "")) + 1).alias("n_tokens"),
    )
    survivors = DD.dedup_keep_first(
        scored.withColumn("__fp", F.md5("text")), ["__fp"], ["doc_id"]
    ).drop("__fp")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "0d",
        F.lit("eval"),
    ).otherwise(F.lit("train"))
    return survivors.select(
        "doc_id", "lang", "n_chars", "n_tokens", split.alias("split")
    )


@_register("curation_blocklist_filter", _curation_blocklist_filter_sql())
def _curation_blocklist_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Host blocklist filtering with parent-domain semantics
    (functions/text.domain_suffix_chain) — the first gate of every
    crawl-corpus pipeline: a doc is dropped when its host OR ANY
    PARENT DOMAIN is blocklisted. The suffix chain is bounded by the
    label count (≤ ~10), so exploding it turns suffix matching into a
    plain equi-join: chain explode → broadcast join against the
    blocklist → left-anti on the doc id. This is the 100k-entry
    production shape (the blocklist broadcasts, the 100-TB side is
    scanned once, no shuffle); for literal-sized lists
    text.is_host_blocked does the same as one scan-stage expression.
    Hosts are synthesized from `source` at two subdomain depths so
    both exact-host and parent-domain blocks are exercised; the
    oracle mirrors the chain with DuckDB list functions."""
    docs = (
        read_table(spark, sf, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("source").isNotNull())
    )
    host = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("www."), F.col("source"), F.lit(".example.com")),
    ).otherwise(F.concat(F.col("source"), F.lit(".example.com")))
    hosts = docs.select("doc_id", host.alias("host"))
    bl = spark.createDataFrame(
        [("src3.example.com",), ("www.src7.example.com",), ("src11.example.com",)],
        "blocked string",
    )
    chain = hosts.select(
        "doc_id", F.explode(TX.domain_suffix_chain("host")).alias("sfx")
    )
    blocked = (
        chain.join(F.broadcast(bl), chain["sfx"] == bl["blocked"])
        .select("doc_id")
        .distinct()
    )
    return hosts.join(blocked, "doc_id", "left_anti")


@_register(
    "curation_quality_percentile",
    f"""
    WITH tok AS (
      SELECT doc_id, source, text, {_TOKENS_SQL} AS toks FROM documents
    ), feats AS (
      SELECT doc_id, source,
             CAST(len(toks) AS INT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n]')) AS INT) AS n_punct,
             CAST(len(list_filter(toks, x -> list_contains({_SW_LIST}, x))) AS INT) AS n_stopwords,
             CAST(length(text) AS INT) AS n_chars
      FROM tok
    ), scored AS (
      SELECT doc_id, source,
             CASE WHEN n_tokens = 0 THEN CAST(0.0 AS DOUBLE) ELSE
               least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
               + least(CAST(1.0 AS DOUBLE), (CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * CAST(5.0 AS DOUBLE)) * CAST(0.3 AS DOUBLE)
               + (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), (CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) * CAST(4.0 AS DOUBLE))) * CAST(0.3 AS DOUBLE)
             END AS quality
      FROM feats
    ), thr AS (
      SELECT source, quantile_disc(quality, 0.75) AS q75
      FROM scored GROUP BY source
    )
    SELECT s.doc_id, s.source, s.quality
    FROM scored s JOIN thr t ON s.source = t.source
    WHERE s.quality >= t.q75
    """,
)
def _curation_quality_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source quality-percentile curation (functions/text.
    quality_score + operators/features.exact_quantiles): keep each
    source's top quality quartile — the relative-threshold curation
    policy (an absolute quality cut would empty low-resource sources
    and barely touch clean ones; CCNet-style pipelines cut per-bucket
    for exactly this reason). The per-source 75th percentile comes
    from the DISC two-phase histogram quantile (no data-sized single
    reducer, no percentile() buffer — the r7 exact-quantiles rebuild
    doing production work), joined back and applied as a plain
    filter. DISC means the threshold is a quality value that EXISTS
    in the source's data, so `>=` keeps at least one doc per source
    by construction."""
    docs = read_table(spark, sf, "documents")
    scored = docs.select(
        "doc_id", "source", TX.quality_score("text").alias("quality")
    )
    thr = FT.exact_quantiles(
        scored, "quality", [0.75],
        group_cols=["source"], mode="disc", out_cols=["q75"],
    )
    return (
        scored.join(thr.select("source", "q75"), "source")
        .filter(F.col("quality") >= F.col("q75"))
        .select("doc_id", "source", "quality")
    )


@_register(
    "curation_quality_gate",
    f"""
    WITH tok AS (
      SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents
    ), feats AS (
      SELECT doc_id,
             CAST(len(toks) AS INT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n]')) AS INT) AS n_punct,
             CAST(len(list_filter(toks, x -> list_contains({_SW_LIST}, x))) AS INT) AS n_stopwords,
             CAST(length(text) AS INT) AS n_chars
      FROM tok
    ), scored AS (
      SELECT doc_id,
             CASE WHEN n_tokens = 0 THEN CAST(0.0 AS DOUBLE) ELSE
               least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
               + least(CAST(1.0 AS DOUBLE), (CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * CAST(5.0 AS DOUBLE)) * CAST(0.3 AS DOUBLE)
               + (CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), (CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) * CAST(4.0 AS DOUBLE))) * CAST(0.3 AS DOUBLE)
             END AS quality
      FROM feats
    ), med AS (
      SELECT quantile_cont(quality, 0.5) AS m FROM scored
    )
    SELECT s.doc_id, s.quality
    FROM scored s, med
    WHERE s.quality >= med.m
    """,
)
def _curation_quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Data-dependent curation threshold: keep documents scoring at or
    above the CORPUS MEDIAN quality (exact interpolated percentile, so
    the cut point is bit-identical across engines — an approx
    percentile would make the boundary engine-dependent). Plan: one
    scan scores all docs, a one-row exact-median aggregate broadcasts
    back as the filter bound — the second scan is the same narrow
    projection. The shape generalizes to any quantile-gated filter
    (perplexity cuts, length cuts) a training-data pipeline applies."""
    docs = read_table(spark, sf, "documents")
    scored = docs.select("doc_id", TX.quality_score("text").alias("quality"))
    med = scored.agg(F.expr("percentile(quality, 0.5D)").alias("m"))
    return scored.crossJoin(F.broadcast(med)).filter(
        F.col("quality") >= F.col("m")
    ).select("doc_id", "quality")


@_register(
    "curation_pack_sequences",
    f"""
    WITH tok AS (
      SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    ), sharded AS (
      SELECT doc_id, n_tokens, doc_id % 8 AS shard FROM tok
    ), packed AS (
      SELECT doc_id, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM sharded
    )
    SELECT doc_id, shard, n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id
    FROM packed
    """,
)
def _curation_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Training-sequence packing: documents are concatenated in
    deterministic order and chunked into 2048-token sequences,
    PER SHARD (doc_id % 8) so the running-total window is partitioned
    — the distributed shape of sequence packing (each shard packs
    independently; no global single-reducer scan). seq_id is the
    sequence in which the document STARTS; integer arithmetic end to
    end, so both engines agree exactly."""
    docs = read_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id",
        TX.token_count("text").cast("long").alias("n_tokens"),
        (F.col("doc_id") % 8).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return toks.select(
        "doc_id", "shard", "n_tokens", F.sum("n_tokens").over(w).alias("cum")
    ).select(
        "doc_id",
        "shard",
        "n_tokens",
        F.expr("(cum - n_tokens) div 2048").alias("seq_id"),
    )


def _curation_lm_gate_sql() -> str:
    ctes, per_doc = _lm_backoff_parts()
    return f"""
    WITH {ctes}, lmdoc AS ({per_doc}),
    scored AS (
      SELECT d.doc_id, s.source, d.bits_per_token
      FROM lmdoc d JOIN documents s USING (doc_id)
    ), thr AS (
      SELECT source, quantile_disc(bits_per_token, 0.75) AS q75
      FROM scored GROUP BY source
    )
    SELECT s.doc_id, s.source, s.bits_per_token
    FROM scored s JOIN thr t ON s.source = t.source
    WHERE s.bits_per_token <= t.q75
    """


@_register("curation_lm_perplexity_gate", _curation_lm_gate_sql())
def _curation_lm_perplexity_gate(spark: SparkSession, sf: str) -> DataFrame:
    """The CCNet curation composition (VERDICT r10 #8): corpus-trained
    trigram stupid-backoff perplexity (text_lm_perplexity's exact
    fixed-point scoring) percentile-gated PER SOURCE — drop each
    source's worst-perplexity quartile, keep the head+middle (CCNet
    cuts per language/bucket for the same reason
    curation_quality_percentile cuts per source: an absolute
    perplexity bar would gut low-resource sources). The per-source
    75th percentile is the DISC two-phase histogram quantile (a value
    that exists in the data, so <= keeps at least one doc per
    source); the threshold join is a broadcast of one row per
    source. The LM trains on the corpus slice (doc_id % 5 != 0) and
    the gate applies to the held-out shard — exactly the daily
    cadence: "is today's crawl fluent under yesterday's corpus".
    Documents under 3 tokens are unscored and therefore ungated —
    route them to the length-based gates instead."""
    docs = read_table(spark, sf, "documents")
    scored = (
        LM.lm_score_stupid_backoff(
            docs.filter(F.col("doc_id") % 5 == 0),
            "doc_id",
            "text",
            train_docs=docs.filter(F.col("doc_id") % 5 != 0),
        )
        .select(F.col("id").alias("doc_id"), "bits_per_token")
        .join(docs.select("doc_id", "source"), "doc_id")
        # materialize ONCE: exact_quantiles' histogram/boundary/join
        # branches would otherwise each re-evaluate the whole LM
        # scoring pipeline (n-gram tables + three joins) — the
        # checkpoint turns 8 replicated subplans into one pass over
        # shard-sized score rows (same persist-before-reuse posture
        # as the CC edge frames)
        .localCheckpoint(eager=True)
    )
    thr = FT.exact_quantiles(
        scored, "bits_per_token", [0.75],
        group_cols=["source"], mode="disc", out_cols=["q75"],
    )
    return (
        scored.join(thr.select("source", "q75"), "source")
        .filter(F.col("bits_per_token") <= F.col("q75"))
        .select("doc_id", "source", "bits_per_token")
    )
