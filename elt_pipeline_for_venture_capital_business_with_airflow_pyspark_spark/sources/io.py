"""Sources & sinks (SURVEY.md §2.1, S1-S9).

The reference triple-hops Postgres → MinIO parquet → Postgres
(reference: dags/vcapital_staging/tasks/components/extract.py:38-71,
load.py:45-72). The engine's lake is parquet-native; JDBC is kept as
an edge connector (S1/S4) gated behind availability of a driver jar.

Scale posture:
- parquet scans carry explicit schemas (column pruning at the reader);
- writes partition by a date key so incremental loads are
  partition-overwrites (fixes reference quirks §2.9.3/.4 — append-only
  rerun duplicates);
- upsert (S7, reference staging load.py:94-118 via pangres) is the
  dedup-union rewrite: new ∪ (old ⟕anti new) — no MERGE needed on
  plain parquet, single shuffle on the key — applied per file: only
  the files holding one of the new keys are rewritten.
"""

from __future__ import annotations

import json as _json

from pyspark.sql import DataFrame, SparkSession
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


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE CSV scan split into (clean, quarantined) frames —
    the production staging-load pattern for dirty feeds (the
    reference trusts its API extracts and would crash the task on a
    malformed row; a 100 TB load can't).

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
        .csv(path, header=header)
        .cache()
    )
    good = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = raw.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_record")
    )
    return good, bad


def read_json_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE JSON scan split into (clean, quarantined) frames —
    same contract as `read_csv_quarantine` for REST-landed JSON
    blobs (reference: helper/minio.py:19-45 land path)."""
    aug = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    raw = (
        spark.read.schema(aug)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
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
    """Parquet sink (S3, reference extract.py:66-71). Date-partitioned
    layout + dynamic partition overwrite = idempotent incremental loads."""
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
    stream, like the version pointer: no Spark job per lookup."""
    _, hpath, fs = hadoop_fs(spark, path)
    meta = hpath(f"{path}/meta/part-00000")
    if not fs.exists(meta):
        return None
    stream = fs.open(meta)
    try:
        return _json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()


def read_partitioned(
    spark: SparkSession, path: str, partition_col: str, empty_schema
) -> DataFrame:
    """Read a parquet table written ``partitionBy(partition_col)``.
    A partitioned write of zero rows emits no ``partition_col=*``
    directories, so schema inference has nothing to read: that ONE
    case (checked explicitly, as is a missing directory) returns an
    empty frame of ``empty_schema``. Every other failure — corrupt
    footer, permissions, transient FS error — propagates: a blanket
    fallback would turn an infrastructure fault into "no rows"."""
    _, hpath, fs = hadoop_fs(spark, path)
    d = hpath(path)
    if fs.exists(d) and any(
        st.isDirectory() and st.getPath().getName().startswith(f"{partition_col}=")
        for st in fs.listStatus(d)
    ):
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
    API the version-pointer plumbing uses, so object stores work
    unchanged. Overwrite semantics: the dir is deleted first, so a
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
        # read as "no meta" — same convention as the version-pointer
        # rename checks below
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


def replace_parquet_atomic(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    compression: str = "zstd",
    partition_by: list[str] | None = None,
) -> None:
    """Overwrite ``path`` with ``df`` even when ``df``'s plan reads
    from ``path`` itself (self-referencing rewrites: compaction,
    upsert-merge). A plain ``mode("overwrite")`` deletes the target
    before writing, so a mid-write failure destroys the original data;
    here the new contents are fully written to ``{path}__swap_new``
    first, then swapped in with two filesystem renames. At no point is
    the data unrecoverable: a crash between the renames leaves the
    original at ``{path}__swap_old`` and/or the new copy at
    ``{path}__swap_new`` (recovery = rename whichever exists back).
    Single writer assumed, same as the reference's loads.

    FILESYSTEM CAVEAT — HDFS/local only. The safety argument rests on
    ``rename`` being an O(1) atomic metadata operation, which is true
    on HDFS and POSIX filesystems but FALSE on object stores: s3a
    emulates a directory rename as a full copy + delete, so the swap
    is neither atomic nor cheap, and a crash mid-"rename" leaves a
    partial copy. On S3/MinIO (the reference's lake —
    ``dags/helper/minio.py:20-45``) use :func:`write_versioned`
    instead: it never renames data directories — snapshots land in
    immutable ``_versions/v{n}`` dirs and visibility is published by
    the tiny ``_LATEST`` pointer file, the manifest-pointer pattern
    object stores need."""
    _, hpath, fs = hadoop_fs(spark, path)
    jpath = hpath(path)
    staged, backup = hpath(path + "__swap_new"), hpath(path + "__swap_old")

    if fs.exists(staged):
        fs.delete(staged, True)
    writer = df.write.mode("overwrite").option("compression", compression)
    if partition_by:
        # preserve a hive-partitioned layout (e.g. an LSH band table's
        # band=* directories) through the rewrite
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path + "__swap_new")
    if fs.exists(backup):
        fs.delete(backup, True)
    if fs.exists(jpath) and not fs.rename(jpath, backup):
        raise IOError(f"could not move {path} aside for swap")
    if not fs.rename(staged, jpath):
        raise IOError(
            f"swap failed: original preserved at {path}__swap_old, "
            f"new data at {path}__swap_new"
        )
    fs.delete(backup, True)


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
    count. The rewrite lands via :func:`replace_parquet_atomic`
    (rename swap), so the data is written once and a mid-compaction
    crash never destroys the original."""
    _, hpath, fs = hadoop_fs(spark, path)
    jpath = hpath(path)
    it = fs.listFiles(jpath, True)
    byte_total = 0
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            byte_total += st.getLen()
    n_files = int(max(1, -(-byte_total // (target_file_mb * 1024 * 1024))))

    replace_parquet_atomic(spark, spark.read.parquet(path).repartition(n_files), path)
    return n_files


def parquet_file_count(spark: SparkSession, path: str) -> int:
    """Recursive data-file count under a table dir (parquet files
    only — markers/checksums skipped). Pure FS metadata, no job."""
    _, hpath, fs = hadoop_fs(spark, path)
    jpath = hpath(path)
    n = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            n += 1
    return n


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
    construction; lands via the same rename swap as
    :func:`replace_parquet_atomic` (see its object-store caveat).
    Returns the new file count."""
    _, hpath, fs = hadoop_fs(spark, path)
    jpath = hpath(path)
    byte_total = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            byte_total += st.getLen()

    df = spark.read.parquet(path)
    n_values = df.select(*partition_cols).distinct().count()
    if n_values == 0:
        return 0
    target = target_file_mb * 1024 * 1024
    m = int(max(1, -(-byte_total // (target * n_values))))
    if m == 1:
        out = df.repartition(*partition_cols)
    else:
        data_cols = [c for c in df.columns if c not in partition_cols]
        out = (
            df.withColumn("__salt", F.pmod(F.xxhash64(*data_cols), F.lit(m)))
            .repartition(*(partition_cols + ["__salt"]))
            .drop("__salt")
        )
    replace_parquet_atomic(spark, out, path, partition_by=partition_cols)
    return parquet_file_count(spark, path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink — the co-located-join layout.

    Two fact tables bucketed on the same key with the same bucket
    count join with **zero shuffle** (Catalyst proves the partitioning
    requirement is already satisfied — no Exchange in the plan; see
    tests/test_plan_shapes.py). At 100 TB this converts the biggest
    recurring fact⋈fact shuffle into a map-side merge per bucket.
    Bucketing requires the session catalog (``saveAsTable``), not a
    bare path — buckets are recorded in table metadata.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


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
    from pyspark.sql import Window as W

    if order_by is not None:
        w = W.partitionBy(*keys).orderBy(F.col(order_by).desc())
        new_df = (
            new_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        new_df = new_df.dropDuplicates(keys)

    if old_df is None:
        return new_df
    keep_old = old_df.join(new_df.select(*keys), on=keys, how="left_anti")
    return new_df.unionByName(keep_old)


def is_committed(spark: SparkSession, path: str) -> bool:
    """True when ``path`` holds a committed write: the ``_SUCCESS``
    marker the output committer creates last. Pure FS metadata (no
    job); a missing table and a write that died before its commit both
    read False."""
    return path_exists(spark, f"{path}/_SUCCESS")


def _append_file(df: DataFrame, path: str, n_files: int = 1) -> None:
    # at most n_files new files, written by as many parallel tasks
    df.coalesce(n_files).write.mode("append").option("compression", "zstd").parquet(path)


def append_parquet(df: DataFrame, path: str) -> None:
    """Add ``df`` to the parquet table at ``path`` as ONE new data file;
    every existing file keeps its name and bytes. An empty ``df``
    writes nothing (Spark would commit an empty file), so replaying an
    append whose rows are already in the table leaves it as it is.

    ``df`` is persisted for the emptiness probe and the write, so its
    plan runs once even when it reads ``path`` itself (the new file
    lands under a fresh name, never over a file being read)."""
    df = df.persist()
    try:
        if not df.isEmpty():
            _append_file(df, path)
    finally:
        df.unpersist()


def remove_files(spark: SparkSession, files: list[str]) -> None:
    """Delete data files given as ``_metadata.file_path`` URIs."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(f))
        if not p.getFileSystem(conf).delete(p, False):
            raise IOError(f"could not delete {f}")


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

    One scan of the table's key columns, semi-joined with the keys of
    ``new_df`` and ``delete`` (AQE picks the join strategy from the
    persisted delta's size), lists the touched files
    (``_metadata.file_path``). The commit then appends
    :func:`merge_upsert` of ``new_df`` over the touched files' rows,
    less the deleted keys, as at most as many new files as it touched
    (one when it touched none; none when nothing is left to write), and
    only then deletes the touched files. With no touched file, the
    common case for a day of new facts, the commit is a plain append;
    an empty ``new_df`` with no ``delete`` skips the scan and writes
    nothing. Footer min/max cannot stand in for the key scan: keys that
    arrive spread over the key range overlap every file's range.

    The add-then-remove order never loses a row. A crash between the
    append and the last delete leaves both copies of the touched
    files' rows (duplicate keys, no lost rows); rerunning the same
    upsert finds both copies of every upserted key among its touched
    files and rewrites them into one, because the touched rows are
    deduplicated on the key before the merge. A file touched only by
    deleted keys is not found again through the new file, so a caller
    that deletes repairs duplicates by upserting their keys (see
    ``plans.pipeline``). ``keys`` must identify rows. Single writer
    assumed, same as the reference.

    Only a missing path is an empty table (the upsert then writes the
    table); any other read failure (corrupt footer, permissions,
    transient FS error) propagates."""
    key_schema = T.StructType([new_df.schema[k] for k in keys])
    table = read_parquet_if_exists(spark, path, schema=key_schema)
    if table is None:
        write_parquet(merge_upsert(new_df, None, keys, order_by), path)
        return
    new_df = new_df.persist()  # read by the probe, the key scan and the merge
    gone = None if delete is None else delete.select(*keys).distinct().persist()
    try:
        no_new = new_df.isEmpty()
        if no_new and gone is None:
            return
        probe = new_df.select(*keys)
        if gone is not None:
            probe = probe.unionByName(gone)
        hits = (
            table.select(*keys, F.col("_metadata.file_path").alias("__file"))
            .join(probe, on=keys, how="left_semi")
            .select("__file")
            .distinct()
            .collect()
        )
        touched = sorted(r["__file"] for r in hits)
        old = None
        if touched:
            jvm = spark._jvm
            files = [jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(f)).toString() for f in touched]
            old = spark.read.schema(new_df.schema).parquet(*files).dropDuplicates(keys)
            if gone is not None:
                old = old.join(gone, on=keys, how="left_anti")
        merged = merge_upsert(new_df, old, keys, order_by)
        if not no_new or (touched and not merged.isEmpty()):
            # one file for a plain append; a rewrite keeps the touched
            # files' parallelism instead of funnelling them through one task
            _append_file(merged, path, max(1, len(touched)))
        remove_files(spark, touched)
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
    holding a listed key are rewritten without those rows, and the
    rewrite is added before the old files are removed. ``on`` must
    identify rows (the rewrite deduplicates the touched files on it).
    One count of the listed rows (the deletion list is broadcast, it is
    always tiny next to the table) plus the upsert's key scan and
    rewrite. Returns the number of rows deleted.

    A crash between the add and the remove loses no row but leaves the
    touched files' other rows twice, and a rerun of the same delete
    does not find the new file again (it holds no listed key): remove
    the duplicates with an upsert of their keys.
    """
    old = read_parquet(spark, path)
    gone = keys_df.select(*on).distinct()
    n = old.join(F.broadcast(gone), on=on, how="left_semi").count()
    upsert_parquet_files(spark, old.limit(0), path, keys=on, delete=gone)
    return n


def read_parquet_if_exists(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame | None:
    """Read a parquet table, returning None ONLY when the path does not
    exist. Every other failure raises — including a missing path with
    a :func:`replace_parquet_atomic` leftover (``__swap_old`` /
    ``__swap_new``) beside it: that is a swap interrupted between its
    two renames, and reading it as "no table yet" would rebuild the
    table from scratch and let the next swap delete the only copy."""
    from pyspark.errors import AnalysisException

    try:
        return read_parquet(spark, path, schema=schema)
    except AnalysisException as e:
        cond = None
        for attr in ("getCondition", "getErrorClass"):
            fn = getattr(e, attr, None)
            if fn is not None:
                try:
                    cond = fn()
                    break
                except Exception:
                    pass
        if cond == "PATH_NOT_FOUND" or "[PATH_NOT_FOUND]" in str(e):
            for leftover in (path + "__swap_old", path + "__swap_new"):
                if path_exists(spark, leftover):
                    raise IOError(
                        f"{path} is missing but swap leftover {leftover} "
                        "exists (interrupted replace_parquet_atomic); "
                        f"restore it to {path} before rerunning"
                    ) from e
            return None
        raise


def table_file_stats(spark: SparkSession, path: str) -> dict:
    """Small-file audit for one table dir: data-file count, total
    bytes, min/max/mean file size. Pure FileSystem metadata (no job).
    The operational complement to :func:`compact_parquet` — at scale,
    a table whose mean file size collapses (incremental drip-writes)
    pays per-file listing, footer and row-group overhead on every
    scan; alert when ``mean_bytes`` falls well below the writer's
    target (e.g. <25% of 256 MB) and compact.
    """
    _, hpath, fs = hadoop_fs(spark, path)
    jpath = hpath(path)
    sizes = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        # data files only: skip _SUCCESS, checksums, hidden files
        if name.startswith(("_", ".")):
            continue
        sizes.append(st.getLen())
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


# ---------------------------------------------------------------------------
# Versioned tables: snapshot isolation + time travel on plain parquet
# ---------------------------------------------------------------------------

_VERSIONS_DIR = "_versions"
_LATEST_FILE = "_LATEST"


def _vname(version: int) -> str:
    return f"v{version:05d}"


def list_versions(spark: SparkSession, path: str) -> list[int]:
    """All committed snapshot versions of a versioned table, ascending."""
    jvm, hpath, fs = hadoop_fs(spark, path)
    vdir = hpath(f"{path}/{_VERSIONS_DIR}")
    if not fs.exists(vdir):
        return []
    out = []
    for st in fs.listStatus(vdir):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            # a snapshot is committed iff its _SUCCESS marker exists —
            # a crashed write leaves no marker and is invisible
            if fs.exists(hpath(f"{path}/{_VERSIONS_DIR}/{name}/_SUCCESS")):
                out.append(int(name[1:]))
    return sorted(out)


def latest_version(spark: SparkSession, path: str) -> int | None:
    """Resolve the current version: the ``_LATEST`` pointer if present
    and valid, else the highest committed snapshot (pointer-loss
    recovery — a crash between pointer delete and rename cannot lose
    the table)."""
    jvm, hpath, fs = hadoop_fs(spark, path)
    ptr = hpath(f"{path}/{_LATEST_FILE}")
    versions = list_versions(spark, path)
    if not versions:
        return None
    if fs.exists(ptr):
        stream = fs.open(ptr)
        try:
            raw = bytes(stream.readAllBytes()).decode("ascii").strip()
        finally:
            stream.close()
        if raw.startswith("v") and raw[1:].isdigit() and int(raw[1:]) in versions:
            return int(raw[1:])
    return versions[-1]


def _point_latest(spark: SparkSession, path: str, version: int) -> None:
    """Swing the ``_LATEST`` pointer via temp-file + atomic
    rename-with-overwrite (FileContext ``Options.Rename.OVERWRITE``).
    The old pointer is never deleted first: a crash at any instant
    leaves EITHER the previous pointer OR the new one, so an
    intentional rollback can't be silently undone by the
    highest-committed-version fallback (which only engages when no
    pointer exists at all). Falls back to delete-then-rename only on
    filesystems whose FileContext doesn't support overwriting rename."""
    jvm, hpath, fs = hadoop_fs(spark, path)
    tmp = hpath(f"{path}/{_LATEST_FILE}__tmp")
    ptr = hpath(f"{path}/{_LATEST_FILE}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(_vname(version).encode("ascii")))
    finally:
        out.close()
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            fs.getUri(), spark._jsc.hadoopConfiguration()
        )
        gw = spark.sparkContext._gateway
        opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fc.rename(tmp, ptr, opts)
        return
    except Exception:
        pass
    if fs.exists(ptr):
        fs.delete(ptr, False)
    if not fs.rename(tmp, ptr):
        raise IOError(f"could not publish {_LATEST_FILE} for {path}")


class VersionConflictError(RuntimeError):
    """Optimistic-concurrency failure: the table's latest version
    moved between the caller's read and its commit — the write was
    ABORTED (snapshot dir + reservation removed), the table is
    untouched. Re-read, re-derive, retry."""


_EXPECTED_UNSET = object()


def write_versioned(
    df: DataFrame,
    path: str,
    *,
    keep: int = 3,
    compression: str = "zstd",
    expected_parent: "int | None | object" = _EXPECTED_UNSET,
) -> int:
    """Commit ``df`` as a NEW immutable snapshot of the table at
    ``path`` and return its version number — snapshot isolation on
    plain parquet (the capability the reference's truncate-and-reload
    staging loads lack, reference: dags/vcapital_staging/tasks/
    components/load.py:38-56: a reader mid-scan of v_n is untouched
    by the v_n+1 commit,
    and yesterday's snapshot stays queryable for debugging/audit).

    Commit protocol: data lands in ``_versions/v{n}`` (invisible until
    its ``_SUCCESS`` marker exists — parquet's own atomicity), then the
    ``_LATEST`` pointer swings via temp-file + rename. A crash at any
    step leaves either the old pointer (new snapshot simply
    uncommitted) or no pointer (readers fall back to the highest
    committed snapshot). Old snapshots beyond ``keep`` are pruned,
    never including the one just written or the pointer target.

    Object-store posture: this is the commit protocol to use on
    s3a/MinIO (unlike :func:`replace_parquet_atomic`, which requires
    atomic directory rename). Data directories are IMMUTABLE once
    committed — no data dir is ever renamed or rewritten; the only
    rename in the whole protocol is the byte-sized ``_LATEST`` pointer
    file, and even a lost/partial pointer degrades safely to the
    highest-committed-snapshot fallback. (Pointer-only commits are
    pinned by ``test_versioned_commit_never_touches_prior_snapshots``.)

    Concurrent writers: each commit first RESERVES its version number
    by atomically creating a ``.v{n}.reserved`` marker
    (create-without-overwrite — atomic on HDFS and local FS); a
    collision means another writer claimed n, so this writer takes
    n+1. Two simultaneous commits thus land as two distinct snapshots
    (last pointer-swing wins the "latest" title, neither commit is
    lost). Note object stores without atomic create (e.g. S3 without
    a consistency layer) degrade to last-writer-wins on the marker —
    run single-writer or front with a lock service there.

    ``expected_parent`` adds optimistic-concurrency DETECTION for
    read-modify-write commits (the lost-update case the default
    last-wins pointer cannot see): pass the version your transaction
    READ (``latest_version(...)``, or None for "I expect to create
    the table"). If the table's latest has moved by commit time —
    checked cheaply before the data write and again immediately
    before the pointer swing — the commit ABORTS with
    :class:`VersionConflictError`: the just-written snapshot dir and
    its reservation are removed, the pointer never swings, and the
    winner's commit is untouched; re-read, re-derive, retry. The
    check-then-swing pair is not itself atomic (a filesystem has no
    pointer CAS — the same object-store caveat as the reservation
    marker), so two conflicting writers that pass the final check in
    the same instant can still both swing; this detects every
    interleaving where the commits are not simultaneous, which is the
    lost-update race a daily pipeline actually hits.
    """
    spark = df.sparkSession
    jvm, hpath, fs = hadoop_fs(spark, path)
    if expected_parent is not _EXPECTED_UNSET:
        current = latest_version(spark, path)
        if current != expected_parent:
            raise VersionConflictError(
                f"{path}: expected parent {expected_parent}, found "
                f"{current} before write — another commit landed since "
                "your read"
            )
    versions = list_versions(spark, path)
    version = (versions[-1] + 1) if versions else 1
    for _ in range(1000):
        marker = hpath(f"{path}/{_VERSIONS_DIR}/.{_vname(version)}.reserved")
        try:
            out = fs.create(marker, False)
            out.close()
            break
        except Exception:
            version += 1
    else:
        raise IOError(f"could not reserve a version number at {path}")
    df.write.mode("overwrite").option("compression", compression).parquet(
        f"{path}/{_VERSIONS_DIR}/{_vname(version)}"
    )
    if expected_parent is not _EXPECTED_UNSET:
        current = latest_version(spark, path)
        # the just-written snapshot has a _SUCCESS marker, so it IS the
        # highest committed version right now — the parent check must
        # look at what latest resolves to WITHOUT this commit
        if current == version:
            others = [v for v in list_versions(spark, path) if v != version]
            current = others[-1] if others else None
        if current != expected_parent:
            # abort: remove this commit's dir + reservation so the
            # pointer-loss fallback can never resurrect the loser
            fs.delete(hpath(f"{path}/{_VERSIONS_DIR}/{_vname(version)}"), True)
            fs.delete(marker, False)
            raise VersionConflictError(
                f"{path}: expected parent {expected_parent}, found "
                f"{current} at commit time — lost update detected, "
                "write aborted"
            )
    _point_latest(spark, path, version)
    # prune: keep the newest `keep` snapshots (and their markers)
    for old in list_versions(spark, path)[:-keep] if keep > 0 else []:
        if old != version:
            fs.delete(hpath(f"{path}/{_VERSIONS_DIR}/{_vname(old)}"), True)
            fs.delete(
                hpath(f"{path}/{_VERSIONS_DIR}/.{_vname(old)}.reserved"),
                False,
            )
    return version


def read_versioned(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Time-travel read: the current snapshot by default, or any
    still-retained ``version``."""
    v = latest_version(spark, path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed versions at {path}")
    if version is not None and version not in list_versions(spark, path):
        raise FileNotFoundError(f"version {version} not present at {path}")
    return read_parquet(
        spark, f"{path}/{_VERSIONS_DIR}/{_vname(v)}", schema=schema
    )


def rollback_versioned(spark: SparkSession, path: str, version: int) -> None:
    """Instant rollback: swing the pointer to an older retained
    snapshot. O(1) metadata, no data rewrite — the operational undo
    for a bad load."""
    if version not in list_versions(spark, path):
        raise FileNotFoundError(f"version {version} not present at {path}")
    _point_latest(spark, path, version)


def vacuum_versioned(spark: SparkSession, path: str) -> list[str]:
    """Remove crash debris from a versioned table: snapshot dirs whose
    ``_SUCCESS`` marker never appeared (a writer died mid-commit — the
    dir is invisible to readers but still holds space), reservation
    markers whose snapshot is gone, and a stale ``_LATEST__tmp``
    pointer temp. Returns the deleted paths.

    SAFE BY CONSTRUCTION, not by timing: committed snapshots are
    recognized by their ``_SUCCESS`` marker (written last), so nothing
    a reader can currently see is ever deleted — no grace-period
    heuristics needed. The ONE unsafe window is a writer mid-commit
    RIGHT NOW (its dir has no marker yet and would be vacuumed);
    run vacuum from the single-writer owner, the same assumption the
    commit protocol already documents for reservation markers on
    object stores."""
    jvm, hpath, fs = hadoop_fs(spark, path)
    vdir = hpath(f"{path}/{_VERSIONS_DIR}")
    deleted: list[str] = []
    if not fs.exists(vdir):
        return deleted
    committed = set(list_versions(spark, path))
    for st in fs.listStatus(vdir):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            if int(name[1:]) not in committed:
                fs.delete(st.getPath(), True)
                deleted.append(str(st.getPath()))
        elif name.startswith(".v") and name.endswith(".reserved"):
            core = name[1:-len(".reserved")]  # ".v00001.reserved" -> "v00001"
            if core[1:].isdigit() and int(core[1:]) not in committed:
                # keep the reservation if its snapshot dir still exists
                # (that is the uncommitted dir handled above on THIS
                # pass — both go together)
                fs.delete(st.getPath(), False)
                deleted.append(str(st.getPath()))
    tmp = hpath(f"{path}/{_LATEST_FILE}__tmp")
    if fs.exists(tmp):
        fs.delete(tmp, False)
        deleted.append(str(tmp))
    return deleted
