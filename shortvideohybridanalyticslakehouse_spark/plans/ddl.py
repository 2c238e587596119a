"""Physical table layout (S8): DDL builders + partitioned-parquet writers.

The reference's layout decisions (rt_content_events_aggregator_sql.py:73-125,
rt_video_cdc_upsert_sql.py:43-76) are THE scale levers, re-expressed here:

| table                | reference layout                      | here        |
|----------------------|---------------------------------------|-------------|
| bronze.raw_events    | partition hours(event_timestamp)      | event_hour  |
| gold 1-min fact      | days(window_start), bucket(16, vid)   | window_day + bucket col |
| dims.dim_videos      | bucket(16, video_id), merge-on-read   | bucket col  |
| quarantine tables    | append-only, no partitioning          | plain       |

Why this matters at 100 TB: hour/day partitions turn every bounded BI query
(anchored interval, P13) into partition pruning; bucketing by video_id
co-locates MERGE keys so upserts and per-video windows shuffle 1/16th of
the data or nothing. On Delta/Iceberg the same DDL carries partition
transforms natively; on plain parquet we materialize the transform columns
and partition the directory layout by them.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import uuid
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 16


def ddl_statements(catalog: str = "spark_catalog", fmt: str = "delta") -> dict[str, str]:
    """CREATE TABLE IF NOT EXISTS statements for lakehouse deployments.

    ``fmt``: iceberg uses native partition TRANSFORMS (hours/days/bucket);
    delta does NOT support transform functions in PARTITIONED BY, so the
    delta variant materializes the transform as a GENERATED ALWAYS AS
    column and partitions on it (bucket has no delta analog — use liquid
    clustering / Z-order on video_id instead).
    """
    iceberg = fmt == "iceberg"
    bronze_part = (
        "PARTITIONED BY (hours(event_timestamp))"
        if iceberg
        else "PARTITIONED BY (event_hour)"
    )
    bronze_gen = (
        ""
        if iceberg
        else ",\n  event_hour TIMESTAMP GENERATED ALWAYS AS "
        "(date_trunc('HOUR', event_timestamp))"
    )
    gold_part = (
        f"PARTITIONED BY (days(window_start), bucket({N_BUCKETS}, video_id))"
        if iceberg
        else "PARTITIONED BY (window_day)"
    )
    gold_gen = (
        ""
        if iceberg
        else ",\n  window_day DATE GENERATED ALWAYS AS (CAST(window_start AS DATE))"
    )
    dim_part = (
        f"PARTITIONED BY (bucket({N_BUCKETS}, video_id))" if iceberg else ""
    )
    return {
        "bronze.raw_events": f"""
CREATE TABLE IF NOT EXISTS {catalog}.bronze.raw_events (
  event_id STRING, event_timestamp TIMESTAMP, video_id STRING,
  user_id STRING, event_type STRING, schema_version STRING, payload STRING,
  source_topic STRING, source_partition INT, source_offset BIGINT,
  ingested_at TIMESTAMP{bronze_gen})
USING {fmt}
{bronze_part}
""",
        "bronze.invalid_events_content": f"""
CREATE TABLE IF NOT EXISTS {catalog}.bronze.invalid_events_content (
  invalid_event_id STRING, raw_value STRING, source_topic STRING,
  source_partition INT, source_offset BIGINT, schema_version STRING,
  error_code STRING, error_reason STRING, ingested_at TIMESTAMP)
USING {fmt}
""",
        "gold.rt_video_stats_1min": f"""
CREATE TABLE IF NOT EXISTS {catalog}.gold.rt_video_stats_1min (
  video_id STRING, window_start TIMESTAMP, window_end TIMESTAMP,
  impressions BIGINT, play_start BIGINT, play_finish BIGINT, likes BIGINT,
  shares BIGINT, skips BIGINT, watch_time_sum_ms BIGINT,
  processed_at TIMESTAMP{gold_gen})
USING {fmt}
{gold_part}
""",
        "dims.dim_videos": f"""
CREATE TABLE IF NOT EXISTS {catalog}.dims.dim_videos (
  video_id STRING, category STRING, region STRING, upload_time TIMESTAMP,
  status STRING, updated_at TIMESTAMP, source_ts_ms BIGINT)
USING {fmt}
{dim_part}
TBLPROPERTIES ('write.merge.mode'='merge-on-read')
""",
    }


def with_bucket(df: DataFrame, key: str, n_buckets: int = N_BUCKETS) -> DataFrame:
    """Materialized bucket transform for plain-parquet layouts.

    pmod(xxhash64(key), n) — uniform, deterministic; the partition column
    plain parquet needs to emulate bucket(n, key) pruning.
    """
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )


def write_bronze(df: DataFrame, path: str) -> None:
    """Append-only bronze: hour-partitioned, sorted within partitions for
    file clustering (pre-write sort, §4)."""
    (
        df.withColumn("event_hour", F.date_trunc("hour", F.col("event_timestamp")))
        .sortWithinPartitions("event_timestamp", "video_id")
        .write.mode("append")
        .partitionBy("event_hour")
        .parquet(path)
    )


def write_gold(df: DataFrame, path: str) -> None:
    """Gold fact: day partitions + bucket column (pruning + co-location)."""
    (
        with_bucket(df, "video_id")
        .withColumn("window_day", F.to_date(F.col("window_start")))
        .sortWithinPartitions("video_id", "window_start")
        .write.mode("overwrite")
        .partitionBy("window_day", "bucket")
        .parquet(path)
    )


def write_dim(df: DataFrame, path: str) -> None:
    (
        with_bucket(df, "video_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def write_bucketed_sorted_table(
    df: DataFrame,
    table_name: str,
    key: str,
    sort_cols: Sequence[str],
    n_buckets: int = N_BUCKETS,
) -> None:
    """(Re)publish ``df`` as a catalog bucketed table, bucketed on ``key``
    and sorted by ``key, *sort_cols``, one file per bucket. Two tables
    bucketed the SAME way on a join key sort-merge-join WITHOUT any
    Exchange (Spark elides the shuffle only for catalog bucketed tables,
    not for the ``partitionBy(bucket)`` analogs above); one file per
    bucket also lets the scan report the sort order, so a
    ``Window.partitionBy(key).orderBy(...)`` consumer (the 30-min rolling
    frame over the gold minute grain, VERDICT r6 #4) plans with NO
    Exchange before WindowExec — the reference's ``bucket(16, video_id)``
    gold/dims layout (rt_content_events_aggregator_sql.py:107,
    rt_video_cdc_upsert_sql.py:54)."""
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table_name}")
    _append_buckets(df, table_name, key, sort_cols, n_buckets)


def zorder_value(x, y, bits: int = 10):
    """Morton (Z-order) interleave of two non-negative ints, ``bits`` bits
    each: bit i of x lands at position 2i, bit i of y at 2i+1.

    This is the space-filling-curve layout key behind Delta OPTIMIZE
    ZORDER / Iceberg sort-order z-ordering: sorting files by the z-value
    bounds BOTH dimensions inside every contiguous slice, so parquet
    min/max row-group stats prune on either predicate column — the
    data-skipping property a single-column sort only gives to one column.
    Pure bit arithmetic (shift/mask/sum), codegen-friendly, replayable in
    any engine.
    """
    xi = F.col(x) if isinstance(x, str) else x
    yi = F.col(y) if isinstance(y, str) else y
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(xi, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(yi, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z.cast("bigint")


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    bits: int = 10,
    n_files: int = 16,
) -> None:
    """Write ``df`` clustered by the z-order curve over (x, y): rows are
    range-partitioned on the z-value prefix (top bits -> aligned quads)
    and sorted by full z within each file, so every output file covers a
    bounded rectangle of the (x, y) plane — the layout that makes
    min/max-stat file skipping work for point/range predicates on EITHER
    column. ``n_files`` must be a power of 4 for exactly-square quads
    (any power of 2 still bounds both spans).
    """
    shift = 2 * bits - max(1, (n_files - 1).bit_length())
    clustered = (
        df.withColumn("_z", zorder_value(x, y, bits))
        .withColumn("zbucket", F.shiftright(F.col("_z"), shift).cast("int"))
        .repartition("zbucket")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    clustered.write.mode("overwrite").partitionBy("zbucket").parquet(path)


def zorder_value_nd(cols, bits: int = 10):
    """N-dimensional Morton interleave: bit i of column j lands at position
    i * n + j. Generalizes :func:`zorder_value` (the n=2 case, whose bit
    layout it reproduces exactly for [x, y]) to composite clustering keys
    — e.g. (user, day, value-band) — so one sort key bounds ALL dims'
    min/max stats per file. Total bits = bits * n must fit a BIGINT
    (bits * n <= 62).
    """
    n = len(cols)
    if bits * n > 62:
        raise ValueError(f"{bits} bits x {n} dims exceeds a signed BIGINT")
    ins = [F.col(c) if isinstance(c, str) else c for c in cols]
    z = None
    for j, col in enumerate(ins):
        for i in range(bits):
            term = F.shiftleft(
                F.shiftright(col, i).bitwiseAND(F.lit(1)), i * n + j
            )
            z = term if z is None else z + term
    return z.cast("bigint")


# ---------------------------------------------------------------------------
# Incremental maintenance of the bucketed gold layout (VERDICT r7 #5)
# ---------------------------------------------------------------------------

_BUCKET_FILE_RE = re.compile(r"_(\d{5})\.c\d+")


def _bucket_of(fname: str) -> int | None:
    """Bucket id from a bucketed-table file name (``..._00003.c000...``)."""
    m = _BUCKET_FILE_RE.search(fname)
    return int(m.group(1)) if m else None


class TableSpec(NamedTuple):
    location: str
    columns: list[tuple[str, str]]  # (name, type) in table order
    n_buckets: int
    bucket_cols: list[str]
    sort_cols: list[str]


def table_spec(spark, table_name: str) -> TableSpec:
    """A bucketed table's catalog entry, read with one ``DESCRIBE
    FORMATTED``: the only place its location, schema and bucket spec
    live."""
    desc = spark.sql(f"DESCRIBE FORMATTED {table_name}").collect()
    rows = [(r.col_name, r.data_type) for r in desc]
    split = rows.index(("# Detailed Table Information", ""))
    info = dict(rows[split:])

    def cols(field: str) -> list[str]:
        return [c.strip(" `") for c in info[field].strip("[]").split(",")]

    return TableSpec(
        info["Location"].removeprefix("file:"),
        [r for r in rows[:split] if r[0]],
        int(info["Num Buckets"]),
        cols("Bucket Columns"),
        cols("Sort Columns"),
    )


def _columns_ddl(columns: list[tuple[str, str]]) -> str:
    return ", ".join(f"`{name}` {dtype}" for name, dtype in columns)


def table_location(spark, table_name: str) -> str:
    return table_spec(spark, table_name).location


def append_bucketed_sorted(
    df: DataFrame,
    table_name: str,
    key: str,
    sort_cols: Sequence[str],
    n_buckets: int = N_BUCKETS,
) -> None:
    """Merge-on-read append to a bucketed gold table, created on first
    use: the new files carry the SAME bucket spec, at most one per
    touched bucket. Readers keep the no-Exchange property —
    HashPartitioning(key) survives multiple files per bucket; only the
    sorted-output guarantee degrades (Spark inserts a per-partition Sort,
    never a shuffle) until :func:`compact_bucketed_table` restores one
    file per bucket. This is the reference's M2 MOR-append + compaction
    contract (legacy_docs/PipelineArchitecture.md:202-219)."""
    _append_buckets(df, table_name, key, sort_cols, n_buckets)


def _ensure_table(df, table_name, key, sort_cols, n_buckets) -> TableSpec:
    """Create the table (no data) if it is missing and return its spec,
    refusing a frame whose schema or bucket spec disagrees with the
    catalog entry before anything is written."""
    spark = df.sparkSession
    cols = [(f.name, f.dataType.simpleString()) for f in df.schema]
    order = ", ".join(f"`{c}`" for c in (key, *sort_cols))
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table_name} ({_columns_ddl(cols)}) "
        f"USING parquet CLUSTERED BY (`{key}`) SORTED BY ({order}) "
        f"INTO {n_buckets} BUCKETS"
    )
    spec = table_spec(spark, table_name)
    have = (spec.columns, spec.n_buckets, spec.bucket_cols, spec.sort_cols)
    want = (cols, n_buckets, [key], [key, *sort_cols])
    if have != want:
        raise ValueError(f"{table_name} disagrees with its catalog entry: {have} != {want}")
    return spec


def _append_buckets(df, table_name, key, sort_cols, n_buckets) -> None:
    """Write ``df`` straight into the live directory of the (created if
    missing, spec-checked) table with :func:`_write_buckets`, after
    recovering a torn swap, and refresh the catalog's file listing."""
    spec = _ensure_table(df, table_name, key, sort_cols, n_buckets)
    recover_bucketed_table(spec.location)
    _write_buckets(
        df.repartition(n_buckets, F.col(key)), key, sort_cols, n_buckets,
        spec.location, range(n_buckets), "append",
    )
    df.sparkSession.sql(f"REFRESH TABLE {table_name}")


def mor_read(
    spark,
    table_name: str,
    merge_keys: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Merge-on-read view: latest version per merge key across base +
    append files. The dedup window clusters on the bucket key (first
    merge key), so the bucketed layout still satisfies its distribution
    — no Exchange, MOR or not."""
    from shortvideohybridanalyticslakehouse_spark.operators.dedup import (
        latest_per_key,
    )

    return latest_per_key(spark.table(table_name), merge_keys, order_cols)


def swap_dir(tmp: str, live: str, old: str) -> None:
    """Commit the complete directory ``tmp`` as ``live``: the one swap
    protocol of every rewrite store (catalog bucketed tables, the parquet
    upsert table, SCD2 and MV buckets). Two renames, ``live`` -> ``old``
    (skipped while ``live`` does not exist yet) then ``tmp`` -> ``live``,
    so a crash leaves ``live`` intact, only ``old``, or both — each
    settled by :func:`recover_dir`, which the store must run before it
    reads ``live``."""
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(live):
        os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old, ignore_errors=True)


def recover_dir(live: str, old: str) -> None:
    """Settle a torn :func:`swap_dir`. ``old`` without ``live``: the crash
    fell between the two renames, so ``old`` is restored and the
    interrupted write must be replayed. ``old`` with ``live``: the swap
    committed, so ``old`` is pruned."""
    if os.path.isdir(old):
        if os.path.isdir(live):
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(old, live)


def recover_bucketed_table(location: str) -> None:
    """Torn-swap recovery for a catalog table directory: settle an
    interrupted compaction or erasure swap (:func:`recover_dir`) and drop
    its staging dir. Safe to call unconditionally before reads or
    compactions."""
    tmp = location + "._tmp"
    recover_dir(location, location + "._old")
    if not os.path.isdir(location) and os.path.isdir(tmp):
        # tmp is only renamed in AFTER location moved to old; a tmp
        # with no location and no old means the build never finished
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"unrecoverable: {location} missing")
    shutil.rmtree(tmp, ignore_errors=True)


# The ONLY names maintenance will hard-link through unexamined: known
# metadata sidecars. Everything else that doesn't parse a bucket id is a
# hard error — the allowlist is inverted (ADVICE r9) because the old
# "error only on *.parquet/*.orc" denylist silently passed any OTHER
# extension (or none) through as an "extra", which is exactly the
# retained-rows-after-erasure risk the guard exists to close.
_SIDECAR_ALLOWLIST = ("_SUCCESS", "_committed", "_started", "_metadata")


def _scan_bucket_files(loc: str) -> tuple[dict[int, list[str]], list[str]]:
    """List a bucketed table directory into (bucket -> files, extras).

    Extras are ALLOWLISTED metadata sidecars only (``_SUCCESS`` and
    friends). Any other file whose name does not parse a bucket id —
    data file of any extension, or no extension at all — is a hard
    error: maintenance primitives below hard-link extras through
    unchanged, so silently classifying an unknown file as an extra
    would retain rows that an erasure promised to remove (ADVICE r8/r9)."""
    by_bucket: dict[int, list[str]] = {}
    extras: list[str] = []
    for f in os.listdir(loc):
        if f.startswith("."):
            continue  # .crc shadows also carry the _NNNNN bucket pattern
        b = _bucket_of(f)
        if b is None:
            if not f.startswith(_SIDECAR_ALLOWLIST):
                raise RuntimeError(
                    f"unrecognized file in bucketed table dir: {f!r} "
                    f"under {loc} — neither a bucket-named data file nor "
                    "an allowlisted sidecar; refusing to run maintenance "
                    "that would pass it through unexamined"
                )
            extras.append(f)  # _SUCCESS and friends
            continue
        by_bucket.setdefault(b, []).append(f)
    return by_bucket, extras


def _link_untouched(
    loc: str, by_bucket: dict[int, list[str]], touched, extras: list[str]
) -> str:
    """Hard-link every untouched bucket's files (plus extras) into a new
    staging dir, returned — same inode, zero data IO, byte identical. Keeps
    .crc shadows so ChecksumFileSystem stays happy with the old names."""
    tmp = loc + "._tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for b, fs in by_bucket.items():
        if b in touched:
            continue
        for f in fs:
            os.link(os.path.join(loc, f), os.path.join(tmp, f))
            crc = f".{f}.crc"
            if os.path.exists(os.path.join(loc, crc)):
                os.link(os.path.join(loc, crc), os.path.join(tmp, crc))
    for f in extras:
        os.link(os.path.join(loc, f), os.path.join(tmp, f))
    return tmp


def _read_buckets(spark, spec: TableSpec, by_bucket, touched) -> DataFrame:
    """Every file of the touched buckets in one scan; the catalog schema
    is given, so no schema-inference job runs."""
    loc = spec.location
    files = [os.path.join(loc, f) for b in sorted(touched) for f in by_bucket[b]]
    return spark.read.schema(_columns_ddl(spec.columns)).parquet(*files)


def _write_buckets(df, key, sort_cols, n_buckets, target, buckets, tag):
    """The one writer of bucket files. Tag each row of ``df`` with its
    bucket id, ``pmod(murmur3(key), n_buckets)`` as the catalog spec
    assigns it (never the partition id: Spark drops a ``repartition`` its
    input already satisfies, then may coalesce the shuffle), and write it
    in one job to a scratch dir beside ``target``, one directory per bucket,
    sorted by ``key, *sort_cols``; the caller's ``repartition(n_buckets,
    key)`` puts each bucket in one task, so in one file. Every file is
    checked first — one for a bucket outside ``buckets`` or a second one
    for a bucket aborts before any file moves — then renamed into
    ``target`` (never deleted: for an append it is the live table) under
    its bucket id. Returns bucket -> rows, from the parquet footers. No
    .crc for the renamed files: ChecksumFileSystem tolerates a missing
    shadow, but a stale mismatched one would fail reads."""
    import pyarrow.parquet as pq

    scratch = target + "._scratch"
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        (
            df.withColumn("__bucket", F.pmod(F.hash(key), F.lit(n_buckets)))
            .sortWithinPartitions("__bucket", key, *sort_cols)
            .write.partitionBy("__bucket")
            .parquet(scratch)
        )
        files: dict[int, tuple[str, int]] = {}
        for path in sorted(glob.glob(os.path.join(scratch, "__bucket=*", "part-*"))):
            b = int(os.path.basename(os.path.dirname(path)).removeprefix("__bucket="))
            if b not in buckets or b in files:
                raise RuntimeError(
                    f"bucket write produced {path!r}: bucket {b} is not writable "
                    "or already written — aborting before any file moves"
                )
            files[b] = path, pq.read_metadata(path).num_rows
        for b, (path, _n) in files.items():
            out = f"part-00000-{tag}-{uuid.uuid4()}_{b:05d}.c000.snappy.parquet"
            os.rename(path, os.path.join(target, out))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return {b: n for b, (_path, n) in files.items()}


def _swap_table_dir(spark, table_name: str, loc: str, tmp: str) -> None:
    """Commit a rebuilt table directory (:func:`swap_dir`; torn swaps are
    settled by :func:`recover_bucketed_table`) and refresh the catalog."""
    swap_dir(tmp, loc, loc + "._old")
    spark.sql(f"REFRESH TABLE {table_name}")


def _key_buckets(spark, keys: list, key_type: str, n_buckets: int) -> set[int]:
    """The buckets of ``keys``, ``pmod(hash(key), n_buckets)`` as
    :func:`_write_buckets` assigns them, each key bound as a literal cast
    to the key's catalog type (``hash`` of an int literal differs from
    ``hash`` of the same bigint). The VALUES relation is local, so the
    lookup launches no Spark job."""
    if not keys:
        return set()
    args = {f"k{i}": k for i, k in enumerate(keys)}
    values = ", ".join(f"(CAST(:{a} AS {key_type}))" for a in args)
    sql = f"SELECT pmod(hash(k), {n_buckets}) FROM VALUES {values} AS t(k)"
    return {r[0] for r in spark.sql(sql, args=args).collect()}


def compact_bucketed_table(
    spark,
    table_name: str,
    key: str,
    sort_cols: Sequence[str],
    merge_keys: Sequence[str],
    order_cols: Sequence[str],
    rows: DataFrame | None = None,
    keys: Sequence = (),
    n_buckets: int = N_BUCKETS,
) -> int:
    """Bin-pack compaction in one Spark job per call: rewrite ONLY the
    touched buckets, each into one sorted, merge-resolved file — read in
    one scan, clustered by ``repartition(n_buckets, key)`` (which already
    satisfies the merge window) and written by :func:`_write_buckets` in
    one job, so the fixed per-job cost is paid per table, not per bucket.
    Untouched buckets are HARD-LINKED into the new table directory (zero
    data IO), then the directory swaps atomically (two renames, torn-swap
    recoverable), restoring the one-file-per-bucket precondition of the
    exchange-free sorted window read. Returns the number of buckets
    touched.

    Without ``rows`` the touched buckets are those holding more than one
    file. With ``rows`` (new row versions in the table's columns) and
    ``keys`` (the bounded list of key values they carry) the compaction
    also folds in a write: the buckets of ``keys`` are touched too, their
    files are read together with ``rows``, and the result is what an
    append of ``rows`` followed by a compaction leaves, for one rewrite
    instead of two. The table is created if it is missing and
    ``n_buckets`` is checked against its catalog entry, as an append
    does. A touched bucket that had files aborts before the swap if it is
    left with none; a row outside the touched buckets aborts in the
    writer before any file moves.

    Work is O(touched buckets x bucket size), never O(table) — the same
    shape as the streaming SCD2/MV maintainers."""
    from shortvideohybridanalyticslakehouse_spark.operators.dedup import (
        latest_per_key,
    )

    if rows is None:
        spec = table_spec(spark, table_name)
    else:
        spec = _ensure_table(rows, table_name, key, sort_cols, n_buckets)
    loc = spec.location
    recover_bucketed_table(loc)
    by_bucket, extras = _scan_bucket_files(loc)
    touched = {b for b, fs in by_bucket.items() if len(fs) > 1}
    touched |= _key_buckets(spark, list(keys), dict(spec.columns)[key], spec.n_buckets)
    stored = touched & set(by_bucket)
    if stored:
        scan = _read_buckets(spark, spec, by_bucket, stored)
        rows = scan if rows is None else scan.union(rows)
    elif rows is None:
        return 0

    tmp = _link_untouched(loc, by_bucket, touched, extras)
    merged = latest_per_key(
        rows.repartition(spec.n_buckets, F.col(key)), merge_keys, order_cols
    )
    written = _write_buckets(
        merged, key, sort_cols, spec.n_buckets, tmp, touched, "compact"
    )
    if not stored <= set(written):
        raise RuntimeError(f"compaction wrote no file for bucket(s) {stored - set(written)}")

    _swap_table_dir(spark, table_name, loc, tmp)
    return len(touched)


def delete_keys_bucketed(
    spark,
    table_name: str,
    key: str,
    key_values: Sequence,
    sort_cols: Sequence[str],
) -> tuple[int, int]:
    """Targeted delete (GDPR right-to-be-forgotten / CCPA erasure) over a
    bucketed gold table, one rewrite job per call: physically rewrite ONLY
    the buckets whose files contain the given key values, with
    compaction's writer (:func:`_write_buckets`); every other bucket is
    HARD-LINKED into the new table directory (zero data IO, byte
    identical), then the directory swaps atomically through the same
    two-rename, torn-swap-recoverable protocol as
    :func:`compact_bucketed_table`. Returns (buckets_rewritten, rows_deleted).

    Touched buckets are found by SCANNING with the key predicate and
    reading back input_file_name() — data-driven, so it is correct for
    any hash the writer used and naturally benefits from bucket pruning.
    The rewrite bin-packs each touched bucket back to one sorted file
    (none if the delete empties it), so a delete never degrades the
    exchange-free window-read property; a delete of an absent key is a
    physical no-op (0, 0).

    NULL-key rows are never erasure targets (an erasure request names
    concrete subject keys), so the keep predicate is explicitly
    ``key IS NULL OR key NOT IN (...)`` — a bare ``NOT IN`` evaluates
    to NULL for NULL keys and would silently drop them from rewritten
    buckets while identical rows in untouched buckets survived
    (ADVICE r8, medium). The function asserts the physical delta (one
    aggregate before, the written footers after) equals the
    predicate-matched count, so any future drift fails loudly.

    Work is O(touched buckets x bucket size), never O(table) — at 100 TB
    with 4096 buckets an erasure request rewrites ~0.02% of the table.
    Deleting a key that arrived via MOR appends removes EVERY version in
    the bucket's file set (base + deltas), not just the latest.
    """
    spec = table_spec(spark, table_name)
    loc = spec.location
    recover_bucketed_table(loc)
    # Foreign-file guard FIRST: a directory listing is cheap and
    # deterministic, so any non-bucket-named, non-sidecar file aborts
    # with the same "unrecognized file" error as every other maintenance
    # primitive regardless of whether the stray happens to contain an
    # erased key (the erasure-hit probe below is data-dependent and
    # would otherwise race it for which loud abort fires).
    by_bucket, extras = _scan_bucket_files(loc)
    vals = list(key_values)
    hits = (
        spark.table(table_name)
        .filter(F.col(key).isin(vals))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )  # bounded: one row per touched FILE, never per deleted row
    for r in hits:
        if _bucket_of(os.path.basename(r.f)) is None:
            raise RuntimeError(
                f"erasure hit in non-bucket-named data file {r.f!r} — "
                "cannot guarantee complete erasure, aborting before any "
                "rewrite (ADVICE r8)"
            )
    touched = {_bucket_of(os.path.basename(r.f)) for r in hits}
    if not touched:
        return 0, 0

    tmp = _link_untouched(loc, by_bucket, touched, extras)
    bucket_df = _read_buckets(spark, spec, by_bucket, touched)
    n_before, matched = bucket_df.agg(
        F.count(F.lit(1)), F.count(F.when(F.col(key).isin(vals), 1))
    ).first()
    kept = bucket_df.filter(F.col(key).isNull() | ~F.col(key).isin(vals))
    kept = kept.repartition(spec.n_buckets, F.col(key))
    written = _write_buckets(
        kept, key, sort_cols, spec.n_buckets, tmp, touched, "erase"
    )
    deleted = n_before - sum(written.values())
    if deleted != matched:
        raise RuntimeError(
            f"erasure accounting mismatch: predicate matched {matched} "
            f"rows but rewrite dropped {deleted} — aborting swap"
        )

    _swap_table_dir(spark, table_name, loc, tmp)
    return len(touched), deleted
