"""Surrogate-key assignment (SURVEY.md §2.5 W1).

The reference delegates surrogate keys to Postgres BIGSERIAL on append
(reference: dataset/warehouse/init_dwh.sql:32, loaded via
dags/vcapital_warehouse/tasks/components/load.py:68-73). A sequence is
inherently single-writer; the distributed equivalent is a dense rank
over the natural key — reproducible across runs, required wherever
goldens/oracles compare key values. Implemented as a TWO-PHASE
partitioned rank (no global single-reducer sort): every row gets an
order-preserving BUCKET id computed from the row's own value against
the exact min/max of the first key (uniform-width slices of its
range; string keys map through their first 8 UTF-8 bytes read as a
big-endian integer — monotone, prefix ties share a bucket), a
per-bucket ``row_number()`` window ranks within buckets, and prefix-sum
offsets over the per-bucket counts (ONE ROW PER BUCKET, KB-sized at
any scale) splice the buckets into the global sequence. The data never
funnels through one reducer.

Why buckets instead of ``repartitionByRange``: the range partitioner
SAMPLES its boundaries, and a DataFrame diamond (the data path and the
counts path both consume the partitioned frame) evaluates the exchange
twice — two samplings, two different boundary sets, offsets that do
not match positions. Silent key corruption that only appears once
partition counts grow (caught at sf0.1; sf0.01 fit one sampling pass).
Bucket ids are a pure function of the row value and two exact bounds,
so every evaluation agrees by construction. :func:`bucketed_rank`
collects the bounds once and plans them into the counts and the data
plan as literals; :func:`attach_order_bucket` (for lazy callers) plans
them as a one-row broadcast instead.

Job anatomy of one keyed write (``add_surrogate_key`` then a write;
with AQE every exchange of a collect or a write runs as a job of its
own before the action's result job):

1. bounds: the input runs once through Spark's no-op sink, observing
   [min, max] of the first key and the row count
   (``operators.observe.scan_metrics``): one job, no shuffle. An empty
   input stops here;
2. counts: one aggregate per bucket (a shuffle map job and a result
   job) gives the prefix-sum offsets and, with a frame ``offset``, the
   largest existing key;
3. the write: the bucket-partitioned window's shuffle map job and the
   write job.

Five jobs, plus the input's own in each pass that evaluates it (a
broadcast join in the input is one job per pass). A caller that
persists the input evaluates it once, in step 1: the pipeline does
that for every keyed table.

Bucket-balance caveat: uniform-width slices assume the first key is
roughly uniform over its range (surrogate-key inputs — sequential
ids, hashed names — usually are). Heavy skew concentrates rows in few
buckets, degrading parallelism but never correctness; raise
``num_buckets`` (default: the shuffle partition count) to smooth it.

``offset`` carries the max existing key so incremental loads keep
appending to the sequence instead of restarting at 1 (an int, or a
frame of the table's keys).

Natural keys must uniquely identify rows — with duplicate keys the tie
order (hence key assignment among the tied rows) is not reproducible,
exactly as with a global ``row_number()`` over a non-unique ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .observe import scan_metrics

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _order_proxy(df: DataFrame, key: str) -> F.Column:
    """Monotone numeric proxy of an orderable column: x <= y implies
    proxy(x) <= proxy(y). Equal proxies (string prefix ties, double
    rounding) only mean "same bucket" — within-bucket order still
    sorts the full natural key, so ties never cost correctness."""
    dt = df.schema[key].dataType
    c = F.col(key)
    if isinstance(dt, _NUMERIC_TYPES):
        return c.cast("double")
    if isinstance(dt, T.DateType):
        return F.datediff(c, F.lit("1970-01-01").cast("date")).cast("double")
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(c).cast("double")
    if isinstance(dt, (T.StringType, T.BinaryType)):
        # first 8 UTF-8 bytes as a big-endian unsigned integer: UTF-8
        # byte order IS code-point order, so the proxy is monotone in
        # the string; conv() parses the hex into a (lossy but
        # monotone) double via decimal string
        first8 = F.substring(c.cast("binary"), 1, 8)
        padded_hex = F.rpad(F.hex(first8), 16, "0")
        return F.conv(padded_hex, 16, 10).cast("decimal(38,0)").cast("double")
    raise TypeError(f"no order proxy for surrogate-key column type: {dt}")


def _bucket(
    proxy: F.Column,
    lo: F.Column,
    hi: F.Column,
    nbuckets: int,
    desc: bool,
    nulls_last: bool,
    is_float: bool,
) -> F.Column:
    """Bucket id of ``proxy`` (already negated for ``desc``) given the
    exact bounds ``lo`` / ``hi`` of its finite values: uniform-width
    slices 0..nbuckets-1, NaN and NULL in buckets of their own."""
    span = hi - lo
    # NaN is the GREATEST value in both engines' sorts: it follows the
    # numbers ascending, precedes them descending; nulls sit outside
    # both per nulls_last. Bucket ids just encode those positions.
    if desc:
        nan_b = -1
        null_b = nbuckets + 1 if nulls_last else -2
    else:
        nan_b = nbuckets
        null_b = nbuckets + 1 if nulls_last else -1
    numeric_bucket = F.least(
        F.lit(nbuckets - 1),
        F.floor(
            (proxy - lo) / (F.when(span > 0, span).otherwise(F.lit(1.0)) / nbuckets)
        ).cast("int"),
    )
    bucket = F.when(proxy.isNull(), F.lit(null_b))
    if is_float:
        bucket = bucket.when(F.isnan(proxy), F.lit(nan_b))
    return bucket.otherwise(numeric_bucket)


def _finite(proxy: F.Column, is_float: bool) -> F.Column:
    """``proxy`` with NaN as NULL, for the bounds aggregate: one NaN
    would make the span NaN and floor every row into bucket 0 (a
    silent single-reducer collapse)."""
    return F.when(~F.isnan(proxy), proxy) if is_float else proxy


def _is_float(df: DataFrame, key: str) -> bool:
    return isinstance(df.schema[key].dataType, (T.FloatType, T.DoubleType))


def attach_order_bucket(
    df: DataFrame,
    key: str,
    nbuckets: int,
    out_col: str,
    desc: bool = False,
    nulls_last: bool | None = None,
) -> DataFrame:
    """Attach a value-deterministic, order-preserving bucket id
    column (0..nbuckets-1): a pure function of the row value and the
    key column's exact [min, max] — the deterministic replacement for
    sampled range boundaries wherever a partitioned frame is consumed
    by more than one subplan (see module docstring). ``desc=True``
    reverses the bucket order to follow a descending sort.
    ``nulls_last`` places the null bucket; it defaults to the engine's
    sort defaults (asc → nulls first, desc → nulls last) and MUST be
    set to match any explicit NULLS FIRST/LAST on the sort the bucket
    feeds, or the null bucket splices at the wrong end. One KB-sized
    broadcast of the bounds, planned lazily into every plan that
    consumes the frame; no sampling, so any number of downstream
    re-evaluations agree.

    NaN keys (float types): NaN sorts greater than every number in
    both Spark and DuckDB, so NaN rows get their own bucket one past
    the last numeric bucket (before the null bucket when nulls are
    last) — and the bounds aggregate EXCLUDES NaN."""
    if nulls_last is None:
        nulls_last = desc
    proxy = _order_proxy(df, key)
    if desc:
        proxy = -proxy
    is_float = _is_float(df, key)
    finite = _finite(proxy, is_float)
    bounds = df.agg(
        F.min(finite).alias("__ob_min"), F.max(finite).alias("__ob_max")
    )
    bucket = _bucket(
        proxy, F.col("__ob_min"), F.col("__ob_max"), nbuckets, desc, nulls_last, is_float
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(out_col, bucket)
        .drop("__ob_min", "__ob_max")
    )


def bucketed_rank(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rank",
    num_buckets: int | None = None,
    offset: int | DataFrame = 0,
) -> DataFrame:
    """Global ``ROW_NUMBER() OVER (ORDER BY order_cols)`` with NO
    single-reducer window — the two-phase bucketed rank.

    A global window (empty PARTITION BY) funnels every row through one
    task: the plan shows ``Exchange SinglePartition`` and the stage's
    parallelism is 1 regardless of cluster size — the canonical
    at-scale failure of ranking/running-total queries. This operator
    produces the IDENTICAL column in three fully parallel steps:

    1. one eager pass observes the first order column's exact
       [min, max] (and the row count); every row's order-preserving
       bucket id is then a pure function of its own value against
       those two LITERALS, so the counts plan and the data plan agree
       by construction and neither re-plans the bounds;
    2. per-bucket counts → prefix-sum offsets (one row per OCCUPIED
       bucket, KB-sized at any scale), collected eagerly;
    3. ``row_number()`` partitioned BY BUCKET over the full order —
       one hash exchange, parallelism = bucket count — plus the
       bucket's offset as a literal-map lookup: no join, no singleton
       window in the data plan.

    ``order_cols`` must totally order the frame (append a unique key
    as the last column, exactly as you would for a deterministic
    ``ROW_NUMBER``); ranks start at ``1 + offset``. ``offset`` may be
    a one-column frame of existing keys instead of an int: ranks then
    continue after its largest value (0 when it is empty), found by
    the counts aggregate. NULLs in the first order column
    rank first (Spark ASC NULLS FIRST default), matching
    ``ROW_NUMBER ... NULLS FIRST`` oracle semantics. An empty frame
    stops after step 1.

    Semantics twin: ``ROW_NUMBER() OVER (ORDER BY <order_cols> ASC
    NULLS FIRST)`` — oracle-checked in the registry
    (``window_bucketed_rank``).
    """
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    for reserved in (out_col, "__br_bucket", "__br_local"):
        if reserved in df.columns:
            raise ValueError(
                f"bucketed_rank: column {reserved!r} already exists in "
                "the input frame — pass a different out_col / rename "
                "the conflicting column (the __br_* names are internal)"
            )
    keys = [F.col(c) for c in order_cols]
    if num_buckets is None:
        nbuckets = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    else:
        nbuckets = num_buckets

    # phase 1: the bounds and the row count, observed while the input
    # runs through a no-op sink (one job, no exchange)
    proxy = _order_proxy(df, order_cols[0])
    is_float = _is_float(df, order_cols[0])
    finite = _finite(proxy, is_float)
    stats = scan_metrics(
        df, [F.min(finite).alias("lo"), F.max(finite).alias("hi"), F.count(F.lit(1)).alias("n")]
    )
    lo, hi, n = stats["lo"], stats["hi"], stats["n"]
    if not n:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    tagged = df.withColumn(
        "__br_bucket",
        _bucket(
            proxy, F.lit(lo).cast("double"), F.lit(hi).cast("double"),
            nbuckets, desc=False, nulls_last=False, is_float=is_float,
        ),
    )

    # phase 2: per-bucket counts -> prefix-sum offsets, computed on
    # the driver (one row per OCCUPIED bucket — KB-sized at any scale,
    # same sanctioned pattern as the IVF centroid collect). A frame
    # offset rides along as the NULL bucket (a row's bucket is never
    # NULL), whose largest key is the offset.
    counted = tagged.select("__br_bucket", F.lit(None).cast("long").alias("__br_k"))
    if isinstance(offset, DataFrame):
        (existing,) = offset.columns
        counted = counted.unionByName(
            offset.select(
                F.lit(None).cast("int").alias("__br_bucket"),
                F.col(existing).cast("long").alias("__br_k"),
            )
        )
    counts = (
        counted.groupBy("__br_bucket")
        .agg(F.count(F.lit(1)).alias("__br_cnt"), F.max("__br_k").alias("__br_top"))
        .collect()
    )
    if isinstance(offset, DataFrame):
        offset = next((r["__br_top"] for r in counts if r["__br_bucket"] is None), None) or 0
        counts = [r for r in counts if r["__br_bucket"] is not None]
    running = 0
    offsets: dict[int, int] = {}
    for row in sorted(counts, key=lambda r: r["__br_bucket"]):
        offsets[row["__br_bucket"]] = running
        running += row["__br_cnt"]
    offset_expr = F.element_at(
        F.create_map(
            *[F.lit(v) for kv in offsets.items() for v in kv]
        ),
        F.col("__br_bucket"),
    )

    # phase 3: rank within bucket over the FULL order (unique order ->
    # deterministic), one hash exchange on the bucket id; the bucket
    # offset splices in as a literal-map lookup
    wlocal = Window.partitionBy("__br_bucket").orderBy(*keys)
    local = tagged.withColumn("__br_local", F.row_number().over(wlocal))
    rank = (offset_expr + F.col("__br_local") + F.lit(offset)).cast("long")
    return local.select(*df.columns, rank.alias(out_col))


def add_surrogate_key(
    df: DataFrame,
    key_name: str,
    natural_keys: list[str],
    offset: int | DataFrame = 0,
    num_buckets: int | None = None,
) -> DataFrame:
    """``df`` with the surrogate key ``key_name`` (long) in front: the
    two-phase bucketed rank over ``natural_keys`` (see
    :func:`bucketed_rank`, also for ``offset``: a frame of the table's
    existing keys continues the sequence after its largest)."""
    ranked = bucketed_rank(
        df, natural_keys, out_col="__sk", num_buckets=num_buckets, offset=offset
    )
    return ranked.select(F.col("__sk").alias(key_name), *df.columns)
