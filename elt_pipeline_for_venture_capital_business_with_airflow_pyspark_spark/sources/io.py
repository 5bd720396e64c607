"""Sources & sinks (SURVEY.md §2.1, S1-S9).

The reference triple-hops Postgres → MinIO parquet → Postgres
(reference: dags/vcapital_staging/tasks/components/extract.py:38-71,
load.py:45-72). The engine's lake is parquet-native; JDBC is kept as
an edge connector (S1/S4) gated behind availability of a driver jar.

Scale posture:
- parquet scans carry explicit schemas (column pruning at the reader);
- a table that changes after its first write changes only through
  :func:`commit`: one add/remove-file commit published in a per-table
  ``_log``, recovered by :func:`recover` after a crash (see "Table
  commits" below). Write-once outputs use :func:`write_parquet`;
- upsert (S7, reference staging load.py:94-118 via pangres) is the
  dedup-union rewrite: new ∪ (old ⟕anti new) — no MERGE needed on
  plain parquet, single shuffle on the key — applied per file: only
  the files holding one of the new keys are rewritten, in one commit
  (fixes reference quirk §2.9.4 — append-only rerun duplicates).
"""

from __future__ import annotations

import json as _json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas


def events_ts_unit(sf_dir: str) -> str:
    """Parquet logical-timestamp unit of ``events.ts`` (``ns``/``us``/``ms``).

    The driver has shipped both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    encodings of the events table across testdata generations, so the
    reader sniffs the footer (metadata-only, no data read) instead of
    hardcoding one. Spark has no nanosecond timestamp type; the ns
    encoding needs the long-scan + floor-to-µs path below.
    """
    import glob
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return "us"
        path = parts[0]
    pf = pq.ParquetFile(path)
    try:
        col = pf.schema.column(pf.schema.names.index("ts"))
        if col.physical_type == "INT96":
            # Spark's legacy timestamp encoding (its default
            # outputTimestampType). Arrow REPORTS it as timestamp[ns],
            # but it is not a ns INT64 column — the long-scan path
            # would fail with a physical-type mismatch. Spark reads
            # INT96 natively as TimestampType, so route it to the
            # plain declared-schema read.
            return "int96"
    except (ValueError, AttributeError):
        pass
    field = pq.read_schema(path).field("ts").type
    return getattr(field, "unit", "us")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table with its registered schema.

    Schema-on-read, never inference (SURVEY.md §1.3): the explicit
    schema doubles as the projection contract — Catalyst prunes the
    parquet scan to exactly these columns.

    ``events.ts``: when stored as parquet TIMESTAMP(NANOS) — which
    Spark has no timestamp type for — it is scanned as long
    (``spark.sql.legacy.parquet.nanosAsLong``) and truncated to
    microseconds here, the same ns→µs floor DuckDB applies on read.
    µs/ms encodings read directly with the declared TimestampType
    (session timezone is pinned UTC, so NTZ-encoded values compare
    bit-equal to DuckDB's naive timestamps).
    """
    if name == "events" and events_ts_unit(sf_dir) == "ns":
        phys = T.StructType(
            [
                T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType)
                for f in schemas.TESTDATA["events"].fields
            ]
        )
        raw = spark.read.schema(phys).parquet(f"{sf_dir}/{name}.parquet")
        # integer `div`, not `/`: ns values (~1.7e18) exceed double's
        # 2^53 exact-integer range
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(schemas.TESTDATA[name]).parquet(f"{sf_dir}/{name}.parquet")


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union the footers of every file under
    ``path`` (``mergeSchema``) so batches written before a column was
    added still scan — missing columns surface as NULLs. Use for lakes
    whose schema widened over time; the explicit-schema
    :func:`read_parquet` stays the hot path (footer merging costs a
    pass over file metadata, pointless when the schema is known)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> DataFrame:
    """CSV scan (S6 analogue) — schema always explicit, no inferSchema
    (inference is a full extra pass over the data)."""
    return spark.read.schema(schema).csv(path, header=header)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON scan (S5/S6 analogue — reference lands REST payloads as
    JSON blobs, helper/minio.py:19-45)."""
    return spark.read.schema(schema).json(path)


def read_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str,
    header: bool = True,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE scan of a ``fmt`` feed (``"csv"`` or ``"json"``, the
    REST-landed blobs of reference helper/minio.py:19-45) split into
    (clean, quarantined) frames — the production staging-load pattern
    for dirty feeds (the reference trusts its API extracts and would
    crash the task on a malformed row; a 100 TB load can't).
    ``header`` applies to CSV; the JSON reader ignores it.

    Malformed rows land with the raw line preserved in
    ``corrupt_col`` and every schema column NULL; clean rows have
    ``corrupt_col`` NULL. The scan is cached before splitting:
    Spark disallows queries referencing ONLY the internal corrupt
    column on an uncached raw scan (SPARK-21610), and the cache also
    guarantees the two branches split ONE pass over the feed instead
    of re-reading (and re-parsing) it per branch. The cache holds one
    staging batch — a daily slice, not the lake.
    """
    aug = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    raw = (
        spark.read.schema(aug)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .option("header", header)
        .format(fmt)
        .load(path)
        .cache()
    )
    good = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = raw.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_record")
    )
    return good, bad


def read_jdbc(
    spark: SparkSession,
    url: str,
    query: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """JDBC scan with pushed-down subquery (S1, reference
    extract.py:38-54): the query string executes inside the database.

    At scale a single-connection JDBC read is a bottleneck — callers
    pass ``partition_column`` + bounds to parallelize the scan across
    ``num_partitions`` connections. Spark forbids combining the
    ``query`` option with ``partitionColumn``, so the partitioned path
    ships the same subquery through ``dbtable`` as a derived table —
    semantically identical pushdown, one bound-predicate per
    connection. Executed end-to-end against embedded Derby in
    tests/test_jdbc_derby.py (Spark's distribution ships the jars).
    """
    reader = spark.read.format("jdbc").option("url", url)
    if partition_column is not None:
        reader = (
            reader.option("dbtable", f"({query}) AS jdbc_subq")
            .option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    else:
        reader = reader.option("query", query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "zstd",
) -> None:
    """Parquet sink (S3, reference extract.py:66-71) for write-once
    outputs; with ``partition_by``, a dynamic partition overwrite. A
    table that changes in place goes through :func:`commit` instead."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.option("partitionOverwriteMode", "dynamic").partitionBy(*partition_by)
    writer.parquet(path)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "gzip",
) -> None:
    """JSON-lines sink (S6 write side — the reference lands REST
    payloads as JSON blobs in the lake, helper/minio.py:19-45).
    Compressed by default; line-oriented so downstream scans split."""
    df.write.mode(mode).option("compression", compression).json(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    compression: str = "gzip",
) -> None:
    """CSV sink (S6 write side) — header on so the file round-trips
    through read_csv with an explicit schema."""
    df.write.mode(mode).option("header", header).option(
        "compression", compression
    ).csv(path)


def hadoop_fs(spark: SparkSession, path: str):
    """``(jvm, Path, FileSystem)`` for ``path``: the one Hadoop
    FileSystem handle every table, index and pointer helper uses, so
    local, HDFS and object-store paths resolve through the same
    configuration."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    return jvm, hpath, hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())


def path_exists(spark: SparkSession, path: str) -> bool:
    """Explicit existence test (pure FS metadata, no job)."""
    _, hpath, fs = hadoop_fs(spark, path)
    return bool(fs.exists(hpath(path)))


def write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    """Persist a table's or index's parameters as one-line JSON under
    ``<path>/meta`` (via :func:`write_small_text`). NOT
    underscore-prefixed: Spark's file index treats ``_*`` paths as
    hidden, which would make the metadata unreadable by the very
    reader that wrote it. The name cannot collide with data — data
    tables are read through their explicit subpaths, never by sweeping
    the root."""
    write_small_text(spark, f"{path}/meta", _json.dumps(meta, sort_keys=True))


def read_meta(spark: SparkSession, path: str) -> dict | None:
    """The dict :func:`write_meta` stored under ``path``, or None when
    no meta has been written there. Read through the FileSystem
    stream, like the table log: no Spark job per lookup."""
    _, hpath, fs = hadoop_fs(spark, path)
    meta = hpath(f"{path}/meta/part-00000")
    if not fs.exists(meta):
        return None
    return _read_json(fs, meta)


def read_partitioned(
    spark: SparkSession, path: str, partition_col: str, empty_schema
) -> DataFrame:
    """Read a parquet table written ``partitionBy(partition_col)``.
    A partitioned write of zero rows emits no data file, so schema
    inference has nothing to read: that ONE case (checked explicitly
    with :func:`data_files`, as is a missing directory) returns an
    empty frame of ``empty_schema``. Every other failure — corrupt
    footer, permissions, transient FS error — propagates: a blanket
    fallback would turn an infrastructure fault into "no rows"."""
    if data_files(spark, path):
        return spark.read.parquet(path)
    return spark.createDataFrame([], empty_schema)


def write_small_text(spark: SparkSession, dir_path: str, content: str) -> None:
    """One-line text "table" written via a direct FileSystem stream +
    temp-file rename, readable by ``spark.read.text(dir_path)`` exactly
    like the text datasource's output (a ``part-00000`` file, no
    hidden names). Exists because the text SINK pays ~4.5 s of fixed
    job overhead per write in this Spark build where a direct stream
    costs ~0.02 s (measured; parquet/json/csv sinks are ~0.5 s — the
    pathology is text-sink-specific) — and index metas are written
    once per build across four lifecycle families. Same FileSystem
    API the table log uses, so object stores work unchanged. Overwrite semantics: the dir is deleted first, so a
    crash mid-write leaves either no dir or a hidden temp — both read
    as "no meta", preserving every index's meta-commits-LAST
    durability contract."""
    _, hpath, fs = hadoop_fs(spark, dir_path)
    d = hpath(dir_path)
    if fs.exists(d):
        fs.delete(d, True)
    fs.mkdirs(d)
    tmp = hpath(f"{dir_path}/.part-00000.tmp")
    final = hpath(f"{dir_path}/part-00000")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray((content + "\n").encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        # a False return (racing writer, FS quirk) would otherwise
        # leave only the hidden .tmp file and the index would silently
        # read as "no meta"
        raise IOError(f"rename {tmp} -> {final} failed")


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """ORC scan — the second columnar lake format Spark reads natively
    (predicate pushdown + column pruning work exactly as for parquet).
    Kept so a lake that standardized on ORC (Hive heritage) can be a
    drop-in source; explicit schema preferred, same as read_parquet."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "zstd",
) -> None:
    """ORC sink, zstd-compressed; partition layout mirrors
    write_parquet so incremental partition-overwrite works the same."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
) -> None:
    """JDBC sink (S4, reference load.py:59-72) — batch append, never
    row-at-a-time (the reference's helper/postgres.py:40-55 iterrows
    INSERT is replaced by this)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def merge_upsert(
    new_df: DataFrame,
    old_df: DataFrame | None,
    keys: list[str],
    order_by: str | None = None,
) -> DataFrame:
    """Pure MERGE semantics on plain DataFrames (S7, reference staging
    load.py:94-118 pangres ``if_row_exists='update'``).

    New rows win over existing rows with the same key; within
    ``new_df`` itself the row with the greatest ``order_by`` wins
    (latest-timestamp-wins), falling back to dropDuplicates when no
    ordering is given. One shuffle on the key for the dedup window +
    one for the anti join (broadcast when ``new_df`` is small).
    """
    if order_by is not None:
        # imported here: operators.dedup imports this module
        from ..operators.dedup import dedup_keep_first

        new_df = dedup_keep_first(new_df, keys, [F.col(order_by).desc()])
    else:
        new_df = new_df.dropDuplicates(keys)

    if old_df is None:
        return new_df
    keep_old = old_df.join(new_df.select(*keys), on=keys, how="left_anti")
    return new_df.unionByName(keep_old)


# ---------------------------------------------------------------------------
# Table commits: one add/remove-file protocol for every table that changes
# after its first write
# ---------------------------------------------------------------------------
#
# A table is a directory of parquet files plus ``_log/``, a log of
# commits in the style of the Delta Lake and Apache Iceberg table logs
# (Armbrust et al., VLDB 2020). ``_log/<n>.json`` lists, relative to the
# table directory, every data file live after commit ``n``. A commit
# creates ``_log/<n>.pending``, appends its new files with Spark, then
# publishes ``_log/<n>.json`` and only then deletes the files it
# replaced; :func:`recover` finishes or rolls back a commit that died
# part-way. Outside that crash window the directory holds exactly the
# live files, so readers keep reading the directory (Spark, pyarrow)
# and never consult the log. Spark and pyarrow skip ``_``-prefixed
# paths, so ``_log`` is invisible to them.
#
# Single writer per table, as the reference's loads. Both log files are
# created without overwrite, which is atomic on HDFS and local
# filesystems; on S3 it is not, so two writers racing on one table there
# can both publish the same ``<n>``. Run one writer per table (the
# pipeline's per-table task unit already does).

_LOG = "_log"


def _read_json(fs, p):
    stream = fs.open(p)
    try:
        return _json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()


def _create_json(fs, p, obj) -> None:
    out = fs.create(p, False)  # create-without-overwrite
    try:
        out.write(bytearray(_json.dumps(obj).encode("utf-8")))
    finally:
        out.close()


def _log_versions(fs, log) -> tuple[list[int], list[int]]:
    """Versions of the published manifests and of the pending markers
    under the table log ``log`` (a Hadoop path), ascending."""
    published: list[int] = []
    pending: list[int] = []
    if fs.exists(log):
        for st in fs.listStatus(log):
            stem, _, ext = st.getPath().getName().partition(".")
            if stem.isdigit() and ext in ("json", "pending"):
                (published if ext == "json" else pending).append(int(stem))
    return sorted(published), sorted(pending)


def _root(spark: SparkSession, path: str) -> str:
    """The table directory as a qualified path string ending in ``/``:
    the prefix that makes a data file's path relative to its table."""
    _, hpath, fs = hadoop_fs(spark, path)
    return fs.makeQualified(hpath(path)).toString().rstrip("/") + "/"


def data_files(spark: SparkSession, path: str) -> dict[str, int]:
    """The data files of the table at ``path``: relative path -> bytes,
    sorted. A data file is a ``*.parquet`` file anywhere under
    ``path`` whose relative path has no hidden (``_``/``.``) component
    — the files Spark's reader scans; ``_SUCCESS``, checksums,
    ``_log`` and a failed job's ``_temporary`` output are not data. A
    missing path has none. Pure FileSystem metadata, no Spark job."""
    _, hpath, fs = hadoop_fs(spark, path)
    root = hpath(path)
    if not fs.exists(root):
        return {}
    prefix = _root(spark, path)
    out = {}
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        rel = st.getPath().toString()[len(prefix):]
        if rel.endswith(".parquet") and not any(
            part.startswith(("_", ".")) for part in rel.split("/")
        ):
            out[rel] = st.getLen()
    return dict(sorted(out.items()))


def stored_columns(spark: SparkSession, path: str) -> set[str]:
    """The columns every data file of the table at ``path`` stores, from
    the parquet footers read through Hadoop (no Spark job); empty for a
    table with no data file. A read with a declared schema turns a
    column a file lacks into NULLs; this tells the two apart."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    parquet = jvm.org.apache.parquet.hadoop
    out: set[str] | None = None
    for f in _absolute(spark, path, data_files(spark, path)):
        reader = parquet.ParquetFileReader.open(
            parquet.util.HadoopInputFile.fromPath(jvm.org.apache.hadoop.fs.Path(f), conf)
        )
        try:
            schema = reader.getFooter().getFileMetaData().getSchema()
        finally:
            reader.close()
        names = {schema.getFieldName(i) for i in range(schema.getFieldCount())}
        out = names if out is None else out & names
    return out or set()


def remove_files(spark: SparkSession, files: list[str]) -> None:
    """Delete data files given as Hadoop path strings."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    for f in files:
        p = hpath(f)
        if not p.getFileSystem(conf).delete(p, False):
            raise IOError(f"could not delete {f}")


def _publish(fs, manifest, files: list[str]) -> None:
    """Publish a commit: create its manifest listing the live files."""
    _create_json(fs, manifest, {"files": files})


def _absolute(spark: SparkSession, path: str, files) -> list[str]:
    root = _root(spark, path)
    return [root + f for f in files]


def recover(spark: SparkSession, path: str) -> None:
    """Return the table at ``path`` to its last published commit. Uses
    FileSystem listing and one small read, never a Spark job.

    - A table with no published manifest and no pending marker has no
      log yet and is left alone.
    - A pending marker means a commit died part-way: every data file
      the latest manifest does not list is deleted, then the marker.
      Before the publish those are the commit's new files (rolled
      back); after it they are the files it replaced (finished). When
      the first commit of a table died before publishing, the marker's
      own listing — the files live when it started — stands in for the
      manifest.
    - With no marker, a data file the latest manifest does not list
      came from a writer that bypassed the log: ``IOError`` names it
      and nothing is deleted — recovery never removes data silently.
    """
    _, hpath, fs = hadoop_fs(spark, path)
    log = hpath(f"{path}/{_LOG}")
    published, pending = _log_versions(fs, log)
    if not published and not pending:
        return
    if published:
        live = _read_json(fs, hpath(log, f"{published[-1]}.json"))["files"]
    else:
        live = _read_json(fs, hpath(log, f"{pending[-1]}.pending"))["files"]
    live = set(live)
    unlisted = [f for f in data_files(spark, path) if f not in live]
    if not pending:
        if unlisted:
            raise IOError(
                f"{path}: data file {unlisted[0]} is not in the table log "
                f"({len(unlisted)} unlisted); it was written outside "
                "sources.io.commit. Nothing was deleted: commit it or "
                "remove it, then rerun"
            )
        return
    remove_files(spark, _absolute(spark, path, unlisted))
    for v in pending:
        fs.delete(hpath(log, f"{v}.pending"), False)


def commit(
    spark: SparkSession,
    path: str,
    add: DataFrame | None = None,
    remove=(),
    partition_by: list[str] | None = None,
) -> None:
    """The one way a table changes after its first write: add the rows
    of ``add`` as new data files and remove the data files ``remove``
    (paths relative to ``path``, as :func:`data_files` lists them), as
    one commit. Single writer per table.

    1. :func:`recover` the table;
    2. create ``_log/<n>.pending`` holding the live files;
    3. write ``add`` with a Spark append (``partition_by`` keeps a
       hive-partitioned layout); the files added are the difference
       between the listings before and after. The write counts its
       rows (``pyspark.sql.Observation``, no extra job): when ``add``
       held none and a file of the table stays live, the schema-only
       file Spark leaves is deleted, so an empty ``add`` adds nothing
       to a table that has files (a table left with none keeps it, so
       it still has a schema to read);
    4. publish ``_log/<n>.json`` listing every live file;
    5. delete the removed files, the marker and older manifests.

    A crash before step 4 leaves the old table plus files that
    recovery deletes; a crash after it leaves the new table plus files
    that recovery deletes. ``add`` may read the table itself (a
    compaction, a merge): its files land under fresh names, and the
    files it reads are removed only after the publish. A commit that
    adds no row and removes no file publishes nothing."""
    recover(spark, path)
    _, hpath, fs = hadoop_fs(spark, path)
    log = hpath(f"{path}/{_LOG}")
    before = data_files(spark, path)
    remove = set(remove)
    missing = sorted(remove - before.keys())
    if missing:
        raise ValueError(f"{path}: cannot remove files that are not live: {missing}")
    if add is None and not remove:
        return
    published, _ = _log_versions(fs, log)
    n = (published[-1] if published else 0) + 1
    marker = hpath(log, f"{n}.pending")
    _create_json(fs, marker, {"files": list(before)})
    rows = Observation()
    if add is not None:
        writer = add.observe(rows, F.count(F.lit(1)).alias("n")).write
        writer = writer.mode("append").option("compression", "zstd")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
    live = [f for f in data_files(spark, path) if f not in remove]
    added = [f for f in live if f not in before]
    kept = [f for f in live if f in before]
    if added and kept and not rows.get["n"]:
        # unpublished output of this commit: dropped as recovery would
        # drop it, not through the delete step of a published commit
        for f in _absolute(spark, path, added):
            if not fs.delete(hpath(f), False):
                raise IOError(f"could not delete {f}")
        live, added = kept, []
    if remove or added:
        _publish(fs, hpath(log, f"{n}.json"), live)
        remove_files(spark, _absolute(spark, path, sorted(remove)))
    fs.delete(marker, False)
    for v in published:
        fs.delete(hpath(log, f"{v}.json"), False)


def replace_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Commit ``df`` as the whole content of the table at ``path``: a
    :func:`commit` that removes every live file. ``df`` may read the
    table itself."""
    recover(spark, path)
    commit(spark, path, df, data_files(spark, path), partition_by)


def is_committed(spark: SparkSession, path: str) -> bool:
    """True when a commit to ``path`` has published a manifest. Pure FS
    metadata (no job); a missing table and a commit that died before
    its publish both read False (Spark's ``_SUCCESS`` marker proves
    nothing here: an append leaves it before the publish)."""
    _, hpath, fs = hadoop_fs(spark, path)
    return bool(_log_versions(fs, hpath(f"{path}/{_LOG}"))[0])


def append_parquet(df: DataFrame, path: str) -> None:
    """Add ``df`` to the parquet table at ``path`` as ONE new data file
    (a :func:`commit` that removes nothing); every existing file keeps
    its name and bytes. An empty ``df`` adds nothing (the commit counts
    the rows it writes), so replaying an append whose rows are already
    in the table leaves it as it is. ``df`` is evaluated once, by the
    write."""
    commit(df.sparkSession, path, df.coalesce(1))


def relative_files(spark: SparkSession, path: str, uris) -> list[str]:
    """``_metadata.file_path`` URIs of files of the table at ``path``
    as :func:`data_files` names them (relative, sorted)."""
    jvm, hpath, _ = hadoop_fs(spark, path)
    root = _root(spark, path)
    return sorted(hpath(jvm.java.net.URI(u)).toString()[len(root):] for u in uris)


def read_files(
    spark: SparkSession, path: str, files: list[str], schema: T.StructType
) -> DataFrame:
    """The rows of the data files ``files`` (as :func:`data_files`
    names them) of the table at ``path``, read with ``schema``."""
    root = _root(spark, path)
    return spark.read.schema(schema).parquet(*(root + f for f in files))


def upsert_parquet_files(
    spark: SparkSession,
    new_df: DataFrame,
    path: str,
    keys: list[str],
    order_by: str | None = None,
    delete: DataFrame | None = None,
) -> None:
    """Key-upsert ``new_df`` into the parquet table at ``path`` in
    place, and drop every row whose key is in ``delete``, rewriting
    only the data files that hold one of those keys (file-level
    copy-on-write; S7, reference staging load.py:94-118).

    One scan of the table's key columns (read with a key-only schema,
    so no schema-inference job), semi-joined with the keys of
    ``new_df`` and ``delete`` (AQE picks the join strategy from the
    persisted delta's size), lists the touched files
    (``_metadata.file_path``). One :func:`commit` then adds
    :func:`merge_upsert` of ``new_df`` over the touched files' rows,
    less the deleted keys, as at most as many new files as it touched
    (one when it touched none; none when nothing is left to write), and
    removes the touched files. With no touched file, the common case
    for a day of new facts, the commit is a plain append; an empty
    ``new_df`` that touches nothing writes nothing. ``new_df`` is
    persisted for the key scan and the write. Footer min/max cannot
    stand in for the key scan: keys that arrive spread over the key
    range overlap every file's range. ``keys`` must identify rows.

    Only a missing path is an empty table (the upsert then writes the
    table); any other read failure (corrupt footer, permissions,
    transient FS error) propagates."""
    recover(spark, path)
    if not path_exists(spark, path):
        commit(spark, path, merge_upsert(new_df, None, keys, order_by))
        return
    new_df = new_df.persist()
    gone = None if delete is None else delete.select(*keys).distinct().persist()
    try:
        probe = new_df.select(*keys)
        if gone is not None:
            probe = probe.unionByName(gone)
        hits = (
            read_parquet(spark, path, schema=T.StructType([new_df.schema[k] for k in keys]))
            .select(*keys, F.col("_metadata.file_path").alias("__file"))
            .join(probe, on=keys, how="left_semi")
            .select("__file")
            .distinct()
            .collect()
        )
        touched = relative_files(spark, path, [r["__file"] for r in hits])
        old = None
        if touched:
            old = read_files(spark, path, touched, new_df.schema)
            if gone is not None:
                old = old.join(gone, on=keys, how="left_anti")
        merged = merge_upsert(new_df, old, keys, order_by)
        # one file for a plain append; a rewrite keeps the touched
        # files' parallelism instead of funnelling them through one task
        commit(spark, path, merged.coalesce(max(1, len(touched))), touched)
    finally:
        new_df.unpersist()
        if gone is not None:
            gone.unpersist()


def delete_keys(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    on: list[str],
) -> int:
    """Targeted row deletion from a parquet table — the
    right-to-be-forgotten / takedown primitive every training-data lake
    needs (delete all rows whose key appears in ``keys_df``, e.g. a
    list of doc_ids to purge). Plain parquet has no DELETE, so this is
    the delete path of :func:`upsert_parquet_files`: only the files
    holding a listed key are rewritten without those rows, in one
    :func:`commit`. One count of the listed rows (the deletion list is
    broadcast, it is always tiny next to the table) plus the upsert's
    key scan and rewrite. Returns the number of rows deleted."""
    recover(spark, path)
    old = read_parquet(spark, path)
    gone = keys_df.select(*on).distinct()
    n = old.join(F.broadcast(gone), on=on, how="left_semi").count()
    upsert_parquet_files(spark, old.limit(0), path, keys=on, delete=gone)
    return n


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
) -> int:
    """Small-file compaction: rewrite a parquet dir into
    ceil(bytes/target) files. Incremental daily writes accumulate
    file counts that degrade scan planning (listing + row-group
    overhead per file) — at 100 TB, compaction keeps file count
    proportional to data, not to write cadence. Returns the new file
    count. The rewrite is one :func:`commit`, so the data is written
    once and a mid-compaction crash never destroys the original."""
    recover(spark, path)
    files = data_files(spark, path)
    n_files = int(max(1, -(-sum(files.values()) // (target_file_mb * 1024 * 1024))))
    commit(spark, path, spark.read.parquet(path).repartition(n_files), files)
    return n_files


def compact_partitioned_parquet(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    target_file_mb: int = 256,
) -> int:
    """:func:`compact_parquet` for hive-partitioned dirs: rewrites the
    table while PRESERVING its ``col=value`` directory layout (so
    partition-pruned probes keep pruning), collapsing each partition's
    accumulated small files into ~⌈partition_bytes/target⌉ files.

    Mechanics: rows are shuffled onto the partition columns so all of
    one partition value lands in one task (one output file per
    directory); when the average partition exceeds the target size a
    deterministic row-hash salt widens the shuffle to ``m`` tasks per
    value (``m`` output files per directory). Content-identical by
    construction; lands as one :func:`commit`. Returns the new file
    count."""
    recover(spark, path)
    files = data_files(spark, path)
    df = spark.read.parquet(path)
    n_values = df.select(*partition_cols).distinct().count()
    if n_values == 0:
        return 0
    target = target_file_mb * 1024 * 1024
    m = int(max(1, -(-sum(files.values()) // (target * n_values))))
    if m == 1:
        out = df.repartition(*partition_cols)
    else:
        data_cols = [c for c in df.columns if c not in partition_cols]
        out = (
            df.withColumn("__salt", F.pmod(F.xxhash64(*data_cols), F.lit(m)))
            .repartition(*(partition_cols + ["__salt"]))
            .drop("__salt")
        )
    commit(spark, path, out, files, partition_by=partition_cols)
    return len(data_files(spark, path))


def table_file_stats(spark: SparkSession, path: str) -> dict:
    """Small-file audit for one table dir: data-file count, total
    bytes, min/max/mean file size over its :func:`data_files`. Pure
    FileSystem metadata (no job). The operational complement to
    :func:`compact_parquet` — at scale, a table whose mean file size
    collapses (incremental drip-writes) pays per-file listing, footer
    and row-group overhead on every scan; alert when ``mean_bytes``
    falls well below the writer's target (e.g. <25% of 256 MB) and
    compact.
    """
    sizes = list(data_files(spark, path).values())
    if not sizes:
        return {"n_files": 0, "total_bytes": 0, "min_bytes": 0,
                "max_bytes": 0, "mean_bytes": 0}
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "min_bytes": min(sizes),
        "max_bytes": max(sizes),
        "mean_bytes": sum(sizes) // len(sizes),
    }
