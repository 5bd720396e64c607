"""The benchmark's workloads: seeded inputs, one pipeline pass, and
the correctness checks on its outputs.

``elt``: the daily-batch lifecycle of the VC warehouse. A full build
of the history staging (every table of ``WAREHOUSE_ORDER`` through
``plans.pipeline.run_warehouse_table``), a profile of the largest
table (``operators.profile.profile_table``, report written), then
``plans.orchestrate.run_backfill`` over the new dates with a fresh
ledger, each date merging that day's new entities and facts.

``curate_corpus``: LLM-data curation of a seeded corpus. Normalize and
quality-filter (``functions.text``), exact dedup, star-form MinHash
edges persisted, survivorship over the persisted edges, and a
stupid-backoff LM score of the kept documents.

Every call into a product layer that runs Spark actions sits in a
span of the :class:`spans.Recorder` passed in. Spans flagged ``task``
are the units counted as attempted.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen_corpus
import gen_vc
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.functions import text as TX
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import dedup as DD
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import lm as LM
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.operators import profile as PR
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import dim_date as DDATE
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import orchestrate as ORCH
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import pipeline as P
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import warehouse as WH
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import io as SIO


@dataclass
class Outcome:
    """What one workload run produced besides its spans."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    values: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")


def data_files(path: Path) -> list[Path]:
    return sorted(p for p in Path(path).rglob("*.parquet") if not p.name.startswith((".", "_")))


def parquet_rows(path: Path) -> int:
    """Row count of a parquet directory from its footers (no Spark job)."""
    return sum(pq.read_metadata(f).num_rows for f in data_files(path))


def union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df)
    return out


def row_hashes(tables: dict[str, DataFrame]) -> DataFrame:
    """``(t, h)``: one 64-bit content hash per row of every table."""
    return union_all([df.select(F.lit(t).alias("t"), F.xxhash64(*df.columns).alias("h")) for t, df in tables.items()])


def compare(a: dict[str, DataFrame], b: dict[str, DataFrame]) -> dict[str, tuple[int, int, int]]:
    """Multiset comparison of same-named tables, all in one job:
    table -> (rows of ``a`` matched in ``b``, rows of ``a``, rows of ``b``)."""
    tagged = row_hashes(a).select("t", "h", F.lit(1).alias("ia"), F.lit(0).alias("ib")).unionByName(
        row_hashes(b).select("t", "h", F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    )
    per_row = tagged.groupBy("t", "h").agg(F.sum("ia").alias("na"), F.sum("ib").alias("nb"))
    rows = per_row.groupBy("t").agg(
        F.sum(F.least("na", "nb")).alias("m"), F.sum("na").alias("na"), F.sum("nb").alias("nb")
    ).collect()
    got = {r["t"]: (int(r["m"]), int(r["na"]), int(r["nb"])) for r in rows}
    return {t: got.get(t, (0, 0, 0)) for t in a}


def _canonical(table: pa.Table) -> pa.Table:
    """Rows in a fixed order, so equal multisets compare equal."""
    return table.sort_by([(c, "ascending") for c in table.column_names])


# --------------------------------------------------------------------------
# elt
# --------------------------------------------------------------------------

VC_SCALE = gen_vc.VCScale(
    companies=6_000, funds=600, people=3_000, rounds=6_000, ipos=300,
    acquisitions=600, relationships=6_000, history_days=1_000, new_days=1,
    new_share=0.01,
)
# fact and bridge columns holding surrogate keys, with the dim they resolve in
_FK = (
    ("fct_investments", "sk_company_id", "dim_company"),
    ("fct_investments", "sk_fund_id", "dim_funds"),
    ("fct_ipos", "sk_company_id", "dim_company"),
    ("fct_acquisition", "sk_acquiring_company_id", "dim_company"),
    ("fct_acquisition", "sk_acquired_company_id", "dim_company"),
    ("bridge_company_people", "sk_company_id", "dim_company"),
    ("bridge_company_people", "sk_people_id", "dim_people"),
)
_SK = {
    "dim_company": "sk_company_id", "dim_funds": "sk_fund_id",
    "dim_people": "sk_people_id", "bridge_company_people": "sk_company_people_id",
}
# warehouse natural-key column -> (staging table, staging id column)
_NK = {
    "dim_company": ("nk_company_id", "company", "object_id"),
    "dim_funds": ("nk_fund_id", "funds", "object_id"),
    "dim_people": ("nk_people_id", "people", "object_id"),
    "fct_investments": ("dd_investment_id", "investments", "investment_id"),
    "fct_ipos": ("dd_ipo_id", "ipos", "ipo_id"),
    "fct_acquisition": ("dd_acquisition_id", "acquisition", "acquisition_id"),
}
# the profile runs three Spark jobs per table whatever its size; the
# largest table, where the per-column collect_set sample dominates,
# carries the layer within the run-time budget
PROFILED = ("fct_investments",)
# one table per merge path of a daily run: the keyed dim append
# (dim_funds shares it) and the fact upsert (fct_ipos, fct_acquisition
# share it); dim_date, dim_people and the bridge are rebuilt wholesale
_REPLAYED = ("dim_company", "fct_investments")
# the tables a daily run merges into; it rebuilds the other three with
# the full builders, so they equal a full build by construction
_MERGED = ("dim_company", "dim_funds", "fct_investments", "fct_ipos", "fct_acquisition")


def _natural(table: str, df: DataFrame) -> DataFrame:
    """A dimension without its surrogate key: what a merge and a full
    build must agree on (they may number new rows differently)."""
    return df.drop(_SK[table]) if table.startswith("dim_") and table in _SK else df


class Elt:
    """Full build of the history staging, a profile of the largest table, then
    a backfill over the new dates: the daily-batch lifecycle in one
    JVM, with the full build serving as the base the dates merge into."""

    name = "elt"

    def __init__(self, work: Path, seed: int, scale: gen_vc.VCScale = VC_SCALE):
        self.work = work
        self.scale = scale
        self.tables, self.days, self.ready = gen_vc.generate(seed, scale)
        self.staging = work / "staging"  # history + every new day
        self.history = work / "staging_history"  # history only
        self.wh = work / "warehouse"
        self.profiles = work / "profiles"
        self.ledger = work / "ledger.jsonl"
        first_new = gen_vc.EPOCH.date() + dt.timedelta(days=scale.history_days)
        # ds = created day + 1 (the pipeline's one-day lag)
        self.dates = [(first_new + dt.timedelta(days=1 + i)).isoformat() for i in range(scale.new_days)]

    def land(self, spark: SparkSession) -> None:
        """Land the staging zone: one history file and one file per new
        day for every table (people and relationships are full-load
        tables: history only), and read it once through the product's
        schema-enforcing reader."""
        for d in (self.staging, self.history):
            shutil.rmtree(d, ignore_errors=True)
        h = self.scale.history_days
        for name, table in self.tables.items():
            days = self.days[name]
            for root in (self.staging, self.history):
                (root / name).mkdir(parents=True)
                pq.write_table(table.filter(days < h), root / name / "part-history.parquet")
            for day in range(h, h + self.scale.new_days):
                rows = table.filter(days == day)
                if rows.num_rows:
                    pq.write_table(rows, self.staging / name / f"part-day{day}.parquet")
        P.read_staging(spark, str(self.staging))

    def expected_rows(self, cutoff_day: int) -> dict[str, int]:
        out = {t: int(np.sum(r < cutoff_day)) for t, r in self.ready.items()}
        out["dim_date"] = DDATE.SPAN_DAYS
        return out

    def staging_rows(self, new_only: bool) -> int:
        h = self.scale.history_days
        return sum(int(np.sum(d >= h)) if new_only else d.size for d in self.days.values())

    def check_warehouse(self, out: Outcome, cutoff_day: int) -> dict[str, pa.Table]:
        """Row counts net of the planted orphans, natural keys against
        the generator, every surrogate key resolving in its dim, and
        dense 1..N surrogate keys. Sets ``recall`` / ``precision``:
        natural keys found ÷ expected, expected ÷ found. Reads the
        warehouse with pyarrow (no Spark job) and returns it."""
        want = self.expected_rows(cutoff_day)
        local = {t: pq.read_table(self.wh / t) for t in P.WAREHOUSE_ORDER}
        for t in P.WAREHOUSE_ORDER:
            n = local[t].num_rows
            out.check(f"rows {t}", n == want[t], f"{n} != {want[t]}")
        matched = found = expected = 0
        for t, (col, src, src_col) in _NK.items():
            keep = self.ready[t] < cutoff_day
            truth = np.asarray(self.tables[src][src_col].to_numpy(zero_copy_only=False)[keep]).astype(str)
            got = np.asarray(local[t][col].to_numpy(zero_copy_only=False)).astype(str)
            hit = int(np.isin(got, truth).sum())
            matched, found, expected = matched + hit, found + got.size, expected + truth.size
            out.check(f"natural keys {t}", hit == got.size == truth.size and np.unique(got).size == got.size,
                      f"{hit} of {got.size} found, {truth.size} expected")
        out.values["recall"] = matched / expected
        out.values["precision"] = matched / found
        for fact, col, dim in _FK:
            unresolved = int(np.sum(~np.isin(local[fact][col].to_numpy(), local[dim][_SK[dim]].to_numpy())))
            out.check(f"fk {fact}.{col}", unresolved == 0, f"{unresolved} unresolved")
        for t, sk in _SK.items():
            keys = np.sort(local[t][sk].to_numpy())
            out.check(f"dense keys {t}", np.array_equal(keys, np.arange(1, keys.size + 1)),
                      f"{keys[:3]}..{keys[-3:]}")
        return local

    def setup(self, spark: SparkSession) -> None:
        self.land(spark)
        for d in (self.wh, self.profiles):
            shutil.rmtree(d, ignore_errors=True)
        if self.ledger.exists():
            os.remove(self.ledger)

    def run_pass(self, spark: SparkSession, rec, out: Outcome) -> None:
        wh = str(self.wh)
        for name in P.WAREHOUSE_ORDER:
            with rec.span(f"full.{name}", task=True, out_dir=str(self.wh / name)):
                P.run_warehouse_table(spark, name, str(self.history), wh)
        for name in PROFILED:
            with rec.span(f"profile.{name}", task=True, out_dir=str(self.profiles / name)):
                report = PR.profile_table(spark.read.parquet(f"{wh}/{name}"), name)
                SIO.write_parquet(report, str(self.profiles / name))

        inner = P.run_warehouse_table

        def traced_table(spark_, name, staging_dir, warehouse_dir, ds=None):
            with rec.span(f"daily.{name}", task=True, ds=ds, out_dir=f"{warehouse_dir}/{name}"):
                inner(spark_, name, staging_dir, warehouse_dir, ds=ds)

        P.run_warehouse_table = traced_table
        try:
            with rec.span("orchestrate.backfill", count=True):
                report = ORCH.run_backfill(
                    spark, str(self.staging), wh, self.dates[0], self.dates[-1],
                    ORCH.RunLedger(str(self.ledger)),
                )
        finally:
            P.run_warehouse_table = inner
        for key in ("ran", "skipped", "failed", "not_run"):
            out.values[f"tasks_{key}"] = sum(len(r[key]) for r in report.values())

    def write_ratio(self, rec) -> float:
        """Records the backfill wrote per new staging row."""
        written = rec.counters(rec.named("orchestrate.backfill")[0])["output_records"]
        return written / self.staging_rows(new_only=True)

    def checks(self, spark: SparkSession, out: Outcome) -> None:
        h, k = self.scale.history_days, self.scale.new_days
        # the full build, through its profile reports (the backfill has
        # merged into the warehouse since)
        want = self.expected_rows(h)
        for t in PROFILED:
            report = pq.read_table(self.profiles / t, columns=["n_rows"])
            n_cols = len(pq.read_schema(data_files(self.wh / t)[0]).names)
            ok = report.num_rows == n_cols and set(report["n_rows"].to_pylist()) == {want[t]}
            out.check(f"full build profile {t}", ok,
                      f"{report.num_rows} of {n_cols} columns, rows {set(report['n_rows'].to_pylist())} != {want[t]}")
        out.check(
            "backfill tasks",
            out.values["tasks_ran"] == len(P.WAREHOUSE_ORDER) * k and out.values["tasks_failed"] == 0,
            str({key: out.values[f"tasks_{key}"] for key in ("ran", "skipped", "failed", "not_run")}),
        )
        local = self.check_warehouse(out, h + k)

        # the merged tables against a full build over the same staging
        # cut-off, compared on natural keys and attributes: dims without
        # their surrogate keys, facts built through the merged dims
        wh = {t: spark.read.parquet(str(self.wh / t)) for t in (*_MERGED, "dim_date")}
        st = P.read_staging(spark, str(self.staging))
        ref = {
            "dim_company": WH.build_dim_company(st["company"]),
            "dim_funds": WH.build_dim_funds(st["funds"], wh["dim_date"]),
            "fct_investments": WH.build_fct_investments(
                st["investments"], st["funding_rounds"], wh["dim_company"], wh["dim_funds"], wh["dim_date"]
            ),
            "fct_ipos": WH.build_fct_ipos(st["ipos"], wh["dim_company"], wh["dim_date"]),
            "fct_acquisition": WH.build_fct_acquisition(st["acquisition"], wh["dim_company"], wh["dim_date"]),
        }
        got = compare({t: _natural(t, wh[t]) for t in _MERGED}, {t: _natural(t, ref[t]) for t in _MERGED})
        for t, (m, a, b) in got.items():
            out.check(f"merge equals full build {t}", m == a == b, f"matched {m} of {a} vs {b}")

        # replaying the last date with a fresh ledger changes no table
        os.remove(self.ledger)
        ORCH.run_backfill(
            spark, str(self.staging), str(self.wh), self.dates[-1], self.dates[-1],
            ORCH.RunLedger(str(self.ledger)), tables=_REPLAYED,
        )
        for t in _REPLAYED:
            before, after = _canonical(local[t]), _canonical(pq.read_table(self.wh / t))
            out.check(f"replay unchanged {t}", after.equals(before), f"{before.num_rows} -> {after.num_rows} rows")


# --------------------------------------------------------------------------
# curate_corpus
# --------------------------------------------------------------------------

CORPUS_DOCS = 1_000
QUALITY_MIN = 0.4


class Curate:
    name = "curate_corpus"

    def __init__(self, work: Path, seed: int, n_docs: int = CORPUS_DOCS):
        self.work = work
        self.table, self.kinds = gen_corpus.generate(seed, n_docs)
        self.corpus = work / "corpus"
        self.stage = work / "stages"

    def setup(self, spark: SparkSession) -> None:
        for d in (self.corpus, self.stage):
            shutil.rmtree(d, ignore_errors=True)
        self.corpus.mkdir(parents=True)
        pq.write_table(self.table.select(["doc_id", "text"]), self.corpus / "part-0.parquet")
        spark.read.parquet(str(self.corpus))

    def _out(self, stage: str) -> str:
        return str(self.stage / stage)

    def run_pass(self, spark: SparkSession, rec, out: Outcome) -> None:
        with rec.span("text.normalize", task=True, out_dir=self._out("normalized")):
            docs = spark.read.parquet(str(self.corpus))
            norm = docs.select("doc_id", TX.fold_homoglyphs("text").alias("text"))
            norm = norm.filter(TX.quality_score("text") >= QUALITY_MIN)
            SIO.write_parquet(norm, self._out("normalized"))
        norm = spark.read.parquet(self._out("normalized"))

        with rec.span("dedup.exact", task=True, out_dir=self._out("exact_groups")):
            SIO.write_parquet(DD.exact_dedup(norm), self._out("exact_groups"))
        groups = spark.read.parquet(self._out("exact_groups"))
        survivors = norm.join(groups.select(F.col("keep_id").alias("doc_id")), "doc_id")

        with rec.span("dedup.edges", task=True, out_dir=self._out("edges")):
            SIO.write_parquet(DD.minhash_lsh_edges_grouped_poly(survivors), self._out("edges"))
        edges = spark.read.parquet(self._out("edges"))

        with rec.span("dedup.survivors", task=True, out_dir=self._out("components")):
            SIO.write_parquet(DD.survivors_from_edges(survivors, edges), self._out("components"))
        kept = spark.read.parquet(self._out("components")).filter("kept").select("doc_id")

        with rec.span("lm.score", task=True, out_dir=self._out("lm_scores")):
            scores = LM.lm_score_stupid_backoff(survivors.join(kept, "doc_id"))
            SIO.write_parquet(scores, self._out("lm_scores"))

    def write_ratio(self, rec) -> float:
        """Records the stages wrote per corpus document."""
        return rec.counters(rec.named("pass")[0])["output_records"] / self.table.num_rows

    def dedup_quality(self) -> tuple[float, float, dict[str, int]]:
        """Doc-level recall and precision of the removals against the
        planted clusters, over the documents that passed the quality
        filter. A removal is correct when the document that stands in
        for it (its exact group's survivor, then that survivor's
        component keeper) belongs to the same cluster."""
        cluster = dict(zip(self.table.column("doc_id").to_pylist(), self.table.column("cluster").to_pylist()))
        passed = pq.read_table(self._out("normalized"), columns=["doc_id"]).column("doc_id").to_pylist()
        exact_keep: dict[int, int] = {}
        for keep, members in zip(*pq.read_table(self._out("exact_groups"), columns=["keep_id", "member_ids"]).columns):
            for m in members.as_py():
                exact_keep[m] = keep.as_py()
        comp = pq.read_table(self._out("components"), columns=["doc_id", "component"])
        component = dict(zip(comp.column("doc_id").to_pylist(), comp.column("component").to_pylist()))
        kept = {d for d, c in component.items() if d == c}
        sizes: dict[int, int] = {}
        for d in passed:
            sizes[cluster[d]] = sizes.get(cluster[d], 0) + 1
        removed = [d for d in passed if d not in kept]
        correct = sum(1 for d in removed if cluster[component[exact_keep[d]]] == cluster[d])
        planted = sum(n - 1 for n in sizes.values())
        recall = correct / planted if planted else 1.0
        precision = correct / len(removed) if removed else 1.0
        return recall, precision, {"passed": len(passed), "kept": len(kept), "removed": len(removed), "planted": planted}

    def checks(self, spark: SparkSession, out: Outcome) -> None:
        out.values["edges"] = parquet_rows(self.stage / "edges")
        recall, precision, counts = self.dedup_quality()
        out.values.update(recall=recall, precision=precision)
        out.check("dedup recall", recall >= 0.95, f"{recall:.4f} {counts}")
        out.check("dedup precision", precision >= 0.99, f"{precision:.4f} {counts}")

        passed = set(pq.read_table(self._out("normalized"), columns=["doc_id"]).column("doc_id").to_pylist())
        junk = {d for d, c in zip(self.table.column("doc_id").to_pylist(), self.table.column("cluster").to_pylist())
                if c >= gen_corpus.JUNK_CLUSTER}
        out.check("quality filter drops junk", not (passed & junk), f"{len(passed & junk)} junk docs kept")
        out.check("quality filter keeps prose", len(passed) == self.table.num_rows - len(junk), f"{len(passed)} passed")

        norm = spark.read.parquet(self._out("normalized"))
        kept = spark.read.parquet(self._out("components")).filter("kept").select("doc_id")
        dup_fps = (
            norm.join(kept, "doc_id").groupBy(TX.fingerprint("text").alias("fp")).count().filter("count > 1").count()
        )
        out.check("no surviving exact duplicates", dup_fps == 0, f"{dup_fps} fingerprints repeat")
        scores = pq.read_table(self._out("lm_scores"), columns=["bits_per_token"]).column("bits_per_token")
        scores = np.asarray(scores.to_numpy(zero_copy_only=False), dtype=float)
        bad = int(np.sum(~np.isfinite(scores)))
        out.check("finite lm score per kept doc", scores.size == counts["kept"] and bad == 0,
                  f"{scores.size} scores for {counts['kept']} kept, {bad} not finite")


WORKLOADS = {w.name: w for w in (Elt, Curate)}
