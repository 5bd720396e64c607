"""Orchestration shell (SURVEY.md §7.1 step 10).

The reference drives its warehouse with an Airflow DAG — per-table
SparkSubmit tasks, ExternalTaskSensors, and a hard dims-before-facts
ordering (reference: dags/vcapital_warehouse/tasks/main.py:53-120,
ordering at :120). Here orchestration is a thin, dependency-ordered
composition of the pure builder functions: one SparkSession, one
lazily-built logical plan per table, writes as the only actions. Any
external scheduler (Airflow TaskFlow, cron, a driver notebook) can
call these functions directly — there is nothing Airflow-specific to
port.

Differences from the reference, by design (SURVEY.md §2.9):
- reruns converge instead of duplicating (quirk .4): a full build
  replaces each table, and a daily run writes only what the day changed — it
  appends keys the warehouse lacks, upserts facts on their natural id,
  and merges the full-load tables' snapshots on their natural key,
  rewriting only the files the changed keys live in (see
  :func:`run_warehouse_table`);
- incremental mode filters on the SAME path the full load uses, so the
  incremental/full path mismatch bug (quirk .3) cannot exist;
- dim_people and bridge_company_people are built (quirk .6 — declared
  in the reference DDL but never implemented).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..sources import io as SIO
from ..streaming.incremental import incremental_slice
from . import dim_date as DDATE
from . import warehouse as WH

# staging tables the warehouse consumes, in read order
STAGING_INPUTS = (
    "company", "funds", "funding_rounds", "investments",
    "ipos", "acquisition", "people", "relationships",
)

# build order: dims strictly before facts (reference main.py:120)
WAREHOUSE_ORDER = (
    "dim_date", "dim_company", "dim_funds", "dim_people",
    "fct_investments", "fct_ipos", "fct_acquisition",
    "bridge_company_people",
)


def read_staging(
    spark: SparkSession,
    staging_dir: str,
    ds: str | None = None,
    names: tuple[str, ...] = STAGING_INPUTS,
) -> dict[str, DataFrame]:
    """Read the staging tables ``names`` (default: all of
    ``STAGING_INPUTS``) with enforced schemas. With ``ds`` set,
    tables carrying a timestamp ``created_at`` are sliced to
    created_at::date == ds - 1 day (P3, the reference's daily
    incremental predicate) — pushed into the scan. Tables without a
    typed created_at (people; relationships' is a dirty varchar,
    init_stg.sql:158-171) always load in full, as in the reference.
    """
    from pyspark.sql import types as T

    out: dict[str, DataFrame] = {}
    for name in names:
        schema = schemas.STAGING[name]
        df = SIO.read_parquet(spark, f"{staging_dir}/{name}", schema=schema)
        has_ts_created = any(
            f.name == "created_at" and isinstance(f.dataType, T.TimestampType)
            for f in schema.fields
        )
        if ds is not None and has_ts_created:
            df = incremental_slice(df, "created_at", ds, lag_days=1)
        out[name] = df
    return out


# the staging tables each warehouse builder consumes
_INPUTS = {
    "dim_date": (),
    "dim_company": ("company",),
    "dim_funds": ("funds",),
    "dim_people": ("people",),
    "fct_investments": ("investments", "funding_rounds"),
    "fct_ipos": ("ipos",),
    "fct_acquisition": ("acquisition",),
    "bridge_company_people": ("relationships",),
}

# incremental-merge metadata: surrogate + natural key per dim sliced to
# the day's new rows, natural id per fact, and surrogate + natural key
# per table built from a full-load staging snapshot (people and
# relationships, see read_staging). The static dim_date spine is
# written once.
_DIM_KEYS = {
    "dim_company": ("sk_company_id", "nk_company_id"),
    "dim_funds": ("sk_fund_id", "nk_fund_id"),
}
_FACT_KEYS = {
    "fct_investments": "dd_investment_id",
    "fct_ipos": "dd_ipo_id",
    "fct_acquisition": "dd_acquisition_id",
}
_SNAPSHOT_KEYS = {
    "dim_people": ("sk_people_id", "nk_people_id"),
    "bridge_company_people": ("sk_company_people_id", "dd_relationship_id"),
}


def merge_snapshot(
    spark: SparkSession, rows: DataFrame, old: DataFrame, path: str, sk: str, nk: str
) -> None:
    """Commit the full snapshot ``rows`` (no surrogate key, natural
    key ``nk``) to the keyed table ``old`` at ``path``, writing only
    the difference as one ``sources.io.commit``:

    - a natural key not yet in the table is new: new keys are numbered
      on from the table's largest surrogate key, in natural-key order;
    - a natural key whose attributes changed is upserted with its
      existing surrogate key;
    - a natural key gone from the snapshot is deleted.

    Existing rows never change their surrogate key. A deleted key
    leaves a gap in the sequence, as in a BIGSERIAL sequence, except
    that the number of a deleted largest key is handed out again (new
    keys continue from the largest key in the table); keys stay dense
    1..N as long as nothing is deleted. A snapshot equal to the table
    writes no file.

    The diff is one shuffle of the snapshot and the table's rows on the
    natural key (both dimension-sized), each table row carrying the
    data file it lives in. Its per-key result is persisted by one pass
    that observes the counts, the largest key and the files holding a
    changed or deleted key (``operators.observe.scan_metrics``) — the
    files the commit rewrites, their unchanged rows written again — so
    no key scan of the table runs. Keys are unique in the diff, so the
    commit needs no upsert dedup.
    """
    from ..operators.observe import scan_metrics
    from ..operators.surrogate import add_surrogate_key

    attrs = [c for c in rows.columns if c != nk]
    now = rows.select(nk, F.struct(*attrs).alias("__new"))
    was = old.select(
        nk, sk, F.struct(*attrs).alias("__old"), F.col("_metadata.file_path").alias("__file")
    )
    new, prev = F.col("__new"), F.col("__old")
    per_key = (
        now.unionByName(was, allowMissingColumns=True)
        .groupBy(nk)
        .agg(
            F.first("__new", ignorenulls=True).alias("__new"),
            F.first("__old", ignorenulls=True).alias("__old"),
            F.max(sk).alias(sk),
            F.first("__file", ignorenulls=True).alias("__file"),
        )
        .select(
            nk, sk, "__new", "__file",
            F.when(new.isNull(), "gone")
            .when(prev.isNull(), "fresh")
            .when(~prev.eqNullSafe(new), "changed")
            .alias("__op"),
        )
        .persist()
    )
    op = F.col("__op")
    try:
        stats = scan_metrics(per_key, [
            F.max(sk).alias("top"),
            F.count_if(op == "fresh").alias("n_fresh"),
            F.collect_set(F.when(op != "fresh", F.col("__file"))).alias("files"),
            F.count(op).alias("n"),
        ])
        if stats["n"] == 0:
            return
        top, n_fresh, files = stats["top"], stats["n_fresh"], stats["files"]
        live = per_key.select(sk, nk, "__new.*", "__op")
        add = live.filter(op == "changed").select(sk, *rows.columns)
        if n_fresh:
            fresh = live.filter(op == "fresh").select(*rows.columns)
            add = add_surrogate_key(fresh, sk, [nk], top or 0).unionByName(add)
        touched = SIO.relative_files(spark, path, files)
        if touched:
            # the touched files' other rows stay as they are
            kept = SIO.read_files(spark, path, touched, old.schema).join(
                per_key.filter(op.isNotNull()).select(nk), on=nk, how="left_anti"
            )
            add = add.unionByName(kept)
        SIO.commit(spark, path, add.coalesce(max(1, len(touched))), touched)
    finally:
        per_key.unpersist()


def run_warehouse_table(
    spark: SparkSession,
    name: str,
    staging_dir: str,
    warehouse_dir: str,
    ds: str | None = None,
) -> None:
    """Build and persist ONE warehouse table — the per-table task unit
    (the reference schedules exactly this granularity as Airflow tasks,
    main.py:53-120). Fact/bridge builders read the *persisted* dims
    from ``warehouse_dir``, with their declared schemas
    (``schemas.WAREHOUSE``, so a read plans no schema-inference job), so
    the only cross-table contract is ordering: dims strictly before
    facts (``WAREHOUSE_ORDER``).

    Full mode (``ds=None``): each table is replaced by one commit that
    removes every file it held (``sources.io.replace_table``).

    Incremental mode (``ds`` set): staging is sliced to the day and the
    warehouse MERGES instead of overwriting, writing only what the day
    changed — existing data files are never rewritten wholesale:

    - dim_date: a committed spine (a published manifest, no Spark
      job) is left alone; a missing or uncommitted one is written;
    - sliced dims (dim_company, dim_funds): natural keys not yet in the
      warehouse get surrogate keys continuing from the table's largest
      key (the BIGSERIAL posture — existing rows keep their keys, so
      facts never dangle) and are appended as one new file
      (``sources.io.append_parquet``); known keys stay untouched;
    - facts: upsert on the natural id through
      ``sources.io.upsert_parquet_files`` — only the files holding one
      of the day's ids are rewritten, usually none, so the commit is a
      plain append (rerunning a day converges instead of duplicating,
      fixing reference quirk §2.9.4);
    - dim_people / bridge_company_people (built from the full-load
      ``people`` / ``relationships`` snapshots; the bridge joins the
      persisted, already-merged dims): the snapshot is merged on its
      natural key (``nk_people_id`` / ``dd_relationship_id``) by
      :func:`merge_snapshot` — existing keys keep their surrogate key,
      new keys continue the sequence, and only the files holding a
      changed or deleted key are rewritten; a day that changes neither
      table writes nothing to it.

    A keyed table that does not store its natural key in every data
    file — a missing table, or a bridge persisted before it had
    ``dd_relationship_id`` — is written in full, as in full mode; that
    is decided from the parquet footers (``sources.io.stored_columns``),
    so a missing column is never read as NULL keys. The un-keyed rows
    of a keyed write are persisted for the write's three passes (key
    bounds, key counts, the write itself).

    Every change is one ``sources.io.commit``, and the task first
    recovers its table (``sources.io.recover``): a commit that died
    before its publish is rolled back and one that died after it is
    finished, so a rerun starts from the last published table and never
    sees a row twice. A dim that crashes after its commit reruns as a
    no-op: its new keys are in the warehouse, the anti-join drops them,
    and nothing is appended.
    """
    from ..operators.surrogate import add_surrogate_key

    staging = read_staging(spark, staging_dir, ds, _INPUTS[name])
    path = f"{warehouse_dir}/{name}"
    SIO.recover(spark, path)

    def _persisted(table: str) -> DataFrame:
        return SIO.read_parquet(
            spark, f"{warehouse_dir}/{table}", schema=schemas.WAREHOUSE[table]
        )

    if name == "dim_date":
        if ds is None or not SIO.is_committed(spark, path):
            SIO.replace_table(spark, DDATE.build_dim_date(spark), path)
        return

    if name in _FACT_KEYS:
        if name == "fct_investments":
            df = WH.build_fct_investments(
                staging["investments"], staging["funding_rounds"],
                _persisted("dim_company"), _persisted("dim_funds"),
                _persisted("dim_date"),
            )
        elif name == "fct_ipos":
            df = WH.build_fct_ipos(
                staging["ipos"], _persisted("dim_company"), _persisted("dim_date")
            )
        else:
            df = WH.build_fct_acquisition(
                staging["acquisition"], _persisted("dim_company"),
                _persisted("dim_date"),
            )
        if ds is None:
            SIO.replace_table(spark, df, path)
        else:
            SIO.upsert_parquet_files(spark, df, path, keys=[_FACT_KEYS[name]])
        return

    if name not in _DIM_KEYS and name not in _SNAPSHOT_KEYS:
        raise ValueError(f"unknown warehouse table: {name}")
    sk, nk = _DIM_KEYS.get(name) or _SNAPSHOT_KEYS[name]
    old = None
    if ds is not None and nk in SIO.stored_columns(spark, path):
        old = _persisted(name)
    if name == "dim_people":
        rows = WH.dim_people_rows(staging["people"])
    elif name == "bridge_company_people":
        rows = WH.bridge_company_people_rows(
            staging["relationships"], _persisted("dim_people"),
            _persisted("dim_company"),
        )
    else:
        src = staging["company" if name == "dim_company" else "funds"]
        if old is not None:
            # anti-join BEFORE keying: replayed natural keys never burn
            # sequence numbers, and only genuinely-new rows are built.
            # No broadcast hint — AQE picks broadcast vs shuffle by the
            # dim's actual size (a 100x dim must not be force-broadcast)
            src = src.join(
                old.select(F.col(nk).alias("object_id")), on="object_id", how="left_anti"
            )
        rows = WH.dim_company_rows(src) if name == "dim_company" else WH.dim_funds_rows(src)

    if old is not None and name in _SNAPSHOT_KEYS:
        merge_snapshot(spark, rows, old, path, sk, nk)
        return
    rows = rows.persist()
    try:
        if old is None:
            SIO.replace_table(spark, add_surrogate_key(rows, sk, [nk]), path)
        else:
            SIO.append_parquet(add_surrogate_key(rows, sk, [nk], old.select(sk)), path)
    finally:
        rows.unpersist()


def run_warehouse_pipeline(
    spark: SparkSession,
    staging_dir: str,
    warehouse_dir: str,
    ds: str | None = None,
    audit: bool = False,
    on_failure=None,
) -> dict[str, int]:
    """End-to-end staging → warehouse run: every table in
    ``WAREHOUSE_ORDER`` through :func:`run_warehouse_table`. Returns
    {table: row_count} when ``audit`` (costs one count job per table),
    else {table: -1}.

    A failed table write leaves earlier tables fully written (same
    at-least-once granularity as the reference's per-table Airflow
    tasks); reruns converge because full mode replaces each table and
    incremental mode merges idempotently.

    ``on_failure``: optional callback invoked with an Airflow-shaped
    context dict (``task_id``/``dag_id``/``ds``/``exception``) when a
    table build raises — the scheduler-free twin of the DAG shell's
    ``on_failure_callback`` (see ``airflow_dag.make_failure_callback``;
    reference helper/callbacks/slack_notifier.py). The original
    exception is always re-raised.
    """
    manifest: dict[str, int] = {}
    for name in WAREHOUSE_ORDER:
        try:
            run_warehouse_table(spark, name, staging_dir, warehouse_dir, ds)
        except Exception as exc:
            if on_failure is not None:
                on_failure(
                    {
                        "task_id": name,
                        "dag_id": "run_warehouse_pipeline",
                        "ds": ds,
                        "exception": exc,
                    }
                )
            raise
        manifest[name] = (
            SIO.read_parquet(
                spark, f"{warehouse_dir}/{name}", schema=schemas.WAREHOUSE[name]
            ).count()
            if audit
            else -1
        )
    return manifest
