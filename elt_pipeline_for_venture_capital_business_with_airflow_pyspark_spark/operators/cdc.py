"""Change-data-capture: diff two table snapshots into an
insert/update/delete changeset.

The reference moves data with truncate-and-reload (staging,
`dags/vcapital_staging/tasks/components/load.py:38-56`) and blind
append (warehouse, `dags/vcapital_warehouse/tasks/components/load.py:68-73`)
— it never computes what actually *changed* between runs. A snapshot
diff is the missing primitive that turns full daily extracts into an
incremental changeset (feedable straight into
``sources.io.upsert_parquet_files``, which rewrites only the files the
changed keys live in, or ``write_jdbc``), and at 100 TB it is the
difference between rewriting a table and touching 0.1% of it.

Scale shape: ONE full-outer shuffle join on the natural key — no
window, no row amplification. Both sides are pruned to
``keys + compare_cols`` before the join (column pruning reaches the
scans), and value comparison uses null-safe equality so NULL→value
and value→NULL transitions count as updates. With both snapshots
bucketed on the key (``operators.layout.write_bucketed``, the one
bucketed writer) the exchange disappears entirely. The inverse,
:func:`apply_changes`, picks each key's latest change through the one
per-key top-k, ``operators.dedup.dedup_keep_first``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "snapshot_diff",
    "schema_drift",
    "assert_schema_compatible",
    "apply_changes",
    "incremental_join_refresh",
]


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str],
    *,
    keep_unchanged: bool = False,
) -> DataFrame:
    """Classify every natural key across two snapshots.

    Returns ``keys + change_type + old_<c>/new_<c>`` per compare
    column, where ``change_type`` is ``insert`` (key only in *new*),
    ``delete`` (key only in *old*), ``update`` (present in both with
    at least one null-safe-unequal compare column) or ``unchanged``
    (dropped unless *keep_unchanged*).
    """
    o = old.select(
        *[F.col(k) for k in keys],
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(k) for k in keys],
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    j = o.join(n, keys, "full_outer")

    differs = F.lit(False)
    for c in compare_cols:
        # null-safe: eqNullSafe treats NULL==NULL as true, so negating
        # it flags NULL→value and value→NULL as real updates.
        differs = differs | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))

    change = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.withColumn("change_type", change).drop("_in_old", "_in_new")
    if not keep_unchanged:
        out = out.filter(F.col("change_type") != "unchanged")
    return out


def schema_drift(old_schema, new_schema) -> list[dict]:
    """Structural diff of two StructTypes: the schema-level companion
    to ``snapshot_diff``. Returns one record per drifted column —
    ``{"column", "change", "old_type", "new_type"}`` with change in
    {added, removed, type_changed, nullability_changed} — in new-schema
    column order (then removed columns in old order). Pure metadata,
    no job is launched.

    The reference's ELT lands raw and types later (SURVEY §1.3), which
    is exactly where silent upstream drift (a varchar widening, a
    NOT NULL dropped) corrupts downstream casts; this makes drift a
    checkable artifact per load instead of a production surprise.
    """
    old_fields = {f.name: f for f in old_schema.fields}
    new_fields = {f.name: f for f in new_schema.fields}
    out: list[dict] = []
    for f in new_schema.fields:
        o = old_fields.get(f.name)
        if o is None:
            out.append(
                {"column": f.name, "change": "added",
                 "old_type": None, "new_type": f.dataType.simpleString()}
            )
        elif o.dataType != f.dataType:
            out.append(
                {"column": f.name, "change": "type_changed",
                 "old_type": o.dataType.simpleString(),
                 "new_type": f.dataType.simpleString()}
            )
        elif o.nullable != f.nullable:
            out.append(
                {"column": f.name, "change": "nullability_changed",
                 "old_type": f"nullable={o.nullable}",
                 "new_type": f"nullable={f.nullable}"}
            )
    for f in old_schema.fields:
        if f.name not in new_fields:
            out.append(
                {"column": f.name, "change": "removed",
                 "old_type": f.dataType.simpleString(), "new_type": None}
            )
    return out


def assert_schema_compatible(
    old_schema,
    new_schema,
    *,
    allow_added: bool = True,
    allow_nullability_loosening: bool = False,
) -> None:
    """Load gate: raise ``ValueError`` listing every breaking drift
    (removed columns, type changes, and a NOT NULL dropped — i.e.
    nullable False→True, the drift this gate exists to catch; added
    columns tolerated by default — parquet/unionByName handle them)
    before any data moves. Nullability *tightening* (True→False) is
    never breaking for a load gate: the new contract is stricter, the
    data either satisfies it or fails its own constraint downstream."""
    breaking = [
        d
        for d in schema_drift(old_schema, new_schema)
        if d["change"] in ("removed", "type_changed")
        or (d["change"] == "added" and not allow_added)
        or (
            d["change"] == "nullability_changed"
            and d["old_type"] == "nullable=False"
            and not allow_nullability_loosening
        )
    ]
    if breaking:
        raise ValueError(f"breaking schema drift: {breaking}")


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    validate: bool = False,
) -> DataFrame:
    """Apply a CDC change feed to a base snapshot: latest change per
    key wins (by ``seq_col`` descending), ``delete_op`` rows remove the
    key, any other op upserts the change row's payload. The merge
    primitive ``snapshot_diff`` is the inverse of — together they
    round-trip: ``apply_changes(old, diff(old, new)) == new``.

    ``changes`` must carry ``keys + [seq_col, op_col]`` plus every
    base column (payload columns of delete rows are ignored). Returns
    a frame with exactly ``base.columns``.

    Scale shape: one shuffle on the key for the latest-wins window
    (the one per-key top-k, :func:`.dedup.dedup_keep_first`) over the
    CHANGE FEED only (a CDC batch is orders of magnitude smaller than
    the base), then one left-anti join base⋈keys —
    broadcastable when the touched-key set is small, shuffle-hash
    otherwise — plus a union. The base is never windowed and never
    row-amplified; with base and feed bucketed on the key
    (operators.layout.write_bucketed) the anti join is
    exchange-free.

    Determinism: ``(seq_col, op)`` must totally order each key's
    changes; ties on seq_col are broken by preferring the delete
    (so a same-seq upsert+delete pair converges instead of being
    partition-order-dependent). A NULL ``op_col`` is an UPSERT, not a
    delete — three-valued logic would otherwise drop the row from the
    survivors while its key is still anti-joined out of the base,
    silently turning a malformed change row into a delete. With
    ``validate=True`` the contract is enforced at execution time: any
    key whose winning seq value is shared by more than one non-delete
    change (the one genuinely ambiguous case — which upsert payload
    wins would depend on partition order) fails the job with
    ``CDC_AMBIGUOUS_CHANGE`` instead of picking one silently. The
    check rides the existing latest-wins shuffle (a peer count over
    the ranking window's own partition and order), so it adds no
    exchange.
    """
    from pyspark.sql import Window

    from .dedup import dedup_keep_first

    is_delete = F.coalesce(F.col(op_col) == F.lit(delete_op), F.lit(False))
    order = [F.col(seq_col).desc(), is_delete.desc()]
    if validate:
        # the rows of each key that tie with a row on (seq, is_delete):
        # its peers in the latest-wins order, counted over the ranking
        # window's own partition and order
        peers = Window.partitionBy(*keys).orderBy(*order).rangeBetween(
            Window.currentRow, Window.currentRow
        )
        changes = changes.withColumn(
            "__ambiguous", ~is_delete & (F.count(F.lit(1)).over(peers) > 1)
        )
    latest = dedup_keep_first(changes, keys, order)
    if validate:
        latest = latest.filter(
            F.when(
                F.col("__ambiguous"),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "CDC_AMBIGUOUS_CHANGE: multiple non-delete changes "
                            f"share the winning ({seq_col}, {op_col}) for key "
                        ),
                        *[F.col(k).cast("string") for k in keys],
                    )
                ),
            ).otherwise(F.lit(True))
        ).drop("__ambiguous")
    untouched = base.join(latest.select(*keys), keys, "left_anti")
    survivors = latest.filter(
        ~F.coalesce(F.col(op_col) == F.lit(delete_op), F.lit(False))
    ).select(*base.columns)
    return untouched.unionByName(survivors)


def incremental_join_refresh(
    old_result: DataFrame,
    old_a: DataFrame,
    old_b: DataFrame,
    delta_a: DataFrame,
    delta_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Incrementally maintain a materialized JOIN view under
    insert-only deltas — the join analogue of mergeable-agg refresh.

    The standing view ``old_result = A_old ⋈ B_old`` is already
    materialized; when new rows ΔA and ΔB arrive, the delta of the
    join is exactly

        Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB

    (insert-only multiset algebra — each new pair has its A-row, its
    B-row, or both in the delta, and the three terms are disjoint
    because membership of each side's row in old vs delta is a
    partition). The refreshed view is ``old_result ∪ Δ`` — the big
    A_old ⋈ B_old join is NEVER recomputed.

    Scale shape: with daily deltas orders of magnitude smaller than
    history, each delta term is a broadcast join against the big side
    (``broadcast_deltas=True`` pins the hint), so history is scanned
    once per refresh and never shuffled; ΔA ⋈ ΔB is small×small.
    This is why a 100-TB fact⋈fact view costs one delta scan per day,
    not a full re-join. Callers with large deltas pass
    ``broadcast_deltas=False`` and rely on AQE.

    Deletes/updates are out of scope by contract (insert-only feeds —
    the reference's own append-only warehouse load shape,
    dags/vcapital_warehouse/tasks/components/load.py); compose with
    :func:`apply_changes` upstream when feeds mutate.
    """
    da = F.broadcast(delta_a) if broadcast_deltas else delta_a
    db = F.broadcast(delta_b) if broadcast_deltas else delta_b
    d1 = old_b.join(da, on)
    d2 = old_a.join(db, on)
    d3 = delta_a.join(db, on)
    cols = old_result.columns
    return (
        old_result.unionByName(d1.select(*cols))
        .unionByName(d2.select(*cols))
        .unionByName(d3.select(*cols))
    )
