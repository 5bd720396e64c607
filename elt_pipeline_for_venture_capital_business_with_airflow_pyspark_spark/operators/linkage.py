"""Probabilistic record linkage: blocked candidate pairs scored with
Fellegi–Sunter-style field-agreement weights.

The reference pipeline normalizes entity names and addresses
(`helper/utils/utils.py` clean_address / name scrubbing — re-expressed
in functions/expr.py) but stops there: it never asks which cleaned
records refer to the SAME real-world entity. Linkage is the step that
normalization exists for, and at warehouse scale it is the difference
between one golden customer row and five near-duplicates each holding
a fifth of the history.

Method (Fellegi & Sunter 1969): per comparison field, an agreement
adds a positive log-odds weight and a disagreement a negative one;
the pair's score is the sum, and pairs above a threshold are link
candidates. Weights here are INTEGER millis (log-odds × 1000) and
every agreement predicate is an exact integer condition — no floats
anywhere, so scores are bit-reproducible across engines, executors
and retries (the repo's md5-integer determinism discipline applied to
linkage).

Scale shape: candidates come from an equi-join on blocking keys —
never a cross join. Cost is Σ|block|², linear for bounded block
sizes; skewed blocks are visible to operators/skew.skew_diagnose and
salvageable by refining the blocking key (the standard linkage
remedy), exactly as LSH banding bounds the dedup family's candidate
sets. String distances run on printable-ASCII-normalized copies: a
linkage pipeline normalizes aggressively anyway, and byte-vs-codepoint
edit-distance semantics differ across engines (DuckDB's levenshtein
counts units Spark's does not) — the normalization makes the score a
pure function of bytes both engines agree on.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import dedup_keep_first

__all__ = ["FieldRule", "link_pairs", "golden_records"]

_ASCII_ONLY = "[^\\x20-\\x7E]"


@dataclass(frozen=True)
class FieldRule:
    """One comparison field.

    kind:
      - ``exact``      : agree iff values are equal (null-safe: a NULL
                         on either side disagrees).
      - ``lev_pct``    : agree iff 100·levenshtein(a, b) ≤
                         param·max(len(a), len(b)) over printable-ASCII
                         normalized values — i.e. edit distance within
                         ``param`` percent of the longer string.
      - ``abs_diff``   : agree iff |a − b| ≤ param (numeric fields).
    Weights are log-odds millis: ``w_agree`` added on agreement,
    ``w_disagree`` (negative by convention) on disagreement or NULL.
    """

    col: str
    kind: str
    param: int
    w_agree: int
    w_disagree: int


def _agree(rule: FieldRule, a: Column, b: Column) -> Column:
    if rule.kind == "exact":
        return a.eqNullSafe(b) & a.isNotNull()
    if rule.kind == "lev_pct":
        # NOTE: link_pairs never routes lev_pct through here — it
        # pre-normalizes per ROW before the candidate join (see
        # _lev_agree_pre); this per-PAIR form exists for direct
        # callers comparing two arbitrary columns.
        na = F.regexp_replace(a, _ASCII_ONLY, "")
        nb = F.regexp_replace(b, _ASCII_ONLY, "")
        return (F.levenshtein(na, nb) * 100) <= (
            F.lit(rule.param) * F.greatest(F.length(na), F.length(nb))
        )
    if rule.kind == "abs_diff":
        return F.abs(a - b) <= F.lit(rule.param)
    raise ValueError(f"unknown FieldRule kind: {rule.kind}")


def _lev_agree_pre(rule: FieldRule, side_a: str, side_b: str) -> Column:
    """lev_pct agreement over columns normalized BEFORE the candidate
    join: the regexp_replace + length of each side are per-ROW
    functions, so evaluating them inside the pair predicate re-ran
    the regex once per CANDIDATE (2 x |pairs| regex evaluations — at
    1M blocked candidates that is 2M regexes for a 20k-row table).
    link_pairs projects ``__lev_<col>`` / ``__levlen_<col>`` onto each
    side once (O(rows) regexes) and the per-pair work collapses to
    one levenshtein + integer compares. Same arithmetic, same
    output."""
    return (F.levenshtein(F.col(side_a), F.col(side_b)) * 100) <= (
        F.lit(rule.param)
        * F.greatest(F.col(f"{side_a}__len"), F.col(f"{side_b}__len"))
    )


def link_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: list[str],
    rules: list[FieldRule],
    threshold_x1000: int,
) -> DataFrame:
    """Self-linkage candidate pairs of ``df`` above the score
    threshold.

    Pairs are generated ONLY within equal blocking keys (equi-join;
    NULL blocking keys produce no candidates on either engine's join
    semantics), deduplicated by ``id_a < id_b``, and scored as the
    integer sum of each rule's agree/disagree weight. Output:
    ``(id_a, id_b, score_x1000)`` for pairs scoring ≥ the threshold.

    The score is a pure integer function of the two rows, so the
    operator composes with dedup.connected_components for golden-record
    clustering and with skew_diagnose when a blocking key runs hot.
    """
    cols = [id_col, *block_cols, *[r.col for r in rules]]
    # dedupe while preserving order
    seen: set[str] = set()
    keep = [c for c in cols if not (c in seen or seen.add(c))]
    # one pre-normalized projection per COLUMN (the normalized value is
    # param-independent): two lev_pct rules on the same column would
    # otherwise emit duplicate __lev_<col> aliases on each side and make
    # the pair predicate ambiguous
    lev_cols: list[str] = []
    for r in rules:
        if r.kind == "lev_pct" and r.col not in lev_cols:
            lev_cols.append(r.col)

    def side(suffix: str) -> DataFrame:
        sel = [F.col(c).alias(f"{c}{suffix}") for c in keep]
        # per-ROW pre-normalization for lev_pct rules: O(rows)
        # regexes instead of O(pairs) — see _lev_agree_pre
        for c in lev_cols:
            norm = F.regexp_replace(F.col(c), _ASCII_ONLY, "")
            sel.append(norm.alias(f"__lev_{c}{suffix}"))
            sel.append(F.length(norm).alias(f"__lev_{c}{suffix}__len"))
        return df.select(*sel)

    left, right = side("_a"), side("_b")
    cond = [F.col(f"{c}_a") == F.col(f"{c}_b") for c in block_cols]
    cond.append(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
    pairs = left.join(right, cond)
    score = None
    for r in rules:
        if r.kind == "lev_pct":
            agree = _lev_agree_pre(r, f"__lev_{r.col}_a", f"__lev_{r.col}_b")
        else:
            agree = _agree(r, F.col(f"{r.col}_a"), F.col(f"{r.col}_b"))
        term = F.when(agree, F.lit(r.w_agree)).otherwise(F.lit(r.w_disagree))
        score = term if score is None else score + term
    return (
        pairs.withColumn("score_x1000", score.cast("bigint"))
        .filter(F.col("score_x1000") >= F.lit(threshold_x1000))
        .select(
            F.col(f"{id_col}_a").alias("id_a"),
            F.col(f"{id_col}_b").alias("id_b"),
            "score_x1000",
        )
    )


def golden_records(
    records: DataFrame,
    components: DataFrame,
    id_col: str,
    first_nonnull_cols: list[str] | None = None,
    mode_cols: list[str] | None = None,
) -> DataFrame:
    """MDM survivorship: collapse each linked component to ONE golden
    row — the step link_pairs + dedup.connected_components exist for.
    ``components`` is the (id, component) frame connected_components
    returns; ``records`` the original rows.

    Two deterministic survivorship rules (both standard MDM policies,
    both exact — no floats, no nondeterministic ``first()``):

    - ``first_nonnull_cols``: the attribute of the LOWEST-id member
      holding a non-null value (source-priority coalesce; id order is
      the priority order after upstream id assignment). Implemented
      as a sorted-struct fold inside ONE grouped aggregation — the
      repo's _knn_avg pattern: ``collect_list(struct(id, v))`` →
      ``sort_array`` → drop nulls → element 1. Component sizes are
      dedup-cluster sizes (bounded, stars/cliques), so the per-group
      list is KB-scale, never data-sized.
    - ``mode_cols``: the most frequent non-null value in the
      component, ties → smallest value. One count aggregation per
      column + a row_number argmax, all component-sized.

    Output: one row per component — ``(component, n_members,
    <first_nonnull cols>, <mode cols>)``. Singleton components (rows
    never linked) survive as themselves, so the output is a complete
    deduplicated master table, not just the merged clusters."""
    first_nonnull_cols = first_nonnull_cols or []
    mode_cols = mode_cols or []
    overlap = sorted(set(first_nonnull_cols) & set(mode_cols))
    if overlap:
        raise ValueError(
            "golden_records: first_nonnull_cols and mode_cols must be "
            f"disjoint (a column can have only one survivorship rule); "
            f"overlap: {overlap}"
        )
    labeled = records.join(
        components.select(F.col("id").alias(id_col), "component"), id_col
    )

    aggs = [F.count(F.lit(1)).alias("n_members")]
    for c in first_nonnull_cols:
        sorted_members = F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(c).alias("v")))
        )
        nonnull = F.filter(sorted_members, lambda s: s["v"].isNotNull())
        aggs.append(F.get(nonnull, 0)["v"].alias(c))
    golden = labeled.groupBy("component").agg(*aggs)

    for c in mode_cols:
        counts = (
            labeled.filter(F.col(c).isNotNull())
            .groupBy("component", c)
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        best = dedup_keep_first(
            counts, ["component"], [F.col("__n").desc(), F.col(c)]
        ).select("component", F.col(c).alias(f"__mode_{c}"))
        golden = golden.join(best, "component", "left").withColumnRenamed(
            f"__mode_{c}", c
        )
    return golden
