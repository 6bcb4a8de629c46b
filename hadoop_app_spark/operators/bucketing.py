"""Bucketed (co-located) joins — the shuffle-elimination strategy for
repeated large-x-large joins.

At 100 TB the dominant cost of a fact-fact join is the shuffle of both
sides. When the same join recurs (events x user-profiles every batch,
lineitem x orders in every mart build), pre-bucketing both tables by
the join key amortizes that shuffle to ZERO: `bucketBy(n, key)` hashes
rows into n files per partition at WRITE time, and Spark's scan
reports the matching HashPartitioning, so SortMergeJoin consumes both
sides with no Exchange (and with `sortBy` no per-task Sort either).

Rules the helpers below encode:
- both sides must agree on bucket count and key for exchange-free
  joins (`spark.sql.sources.bucketing.enabled` is on by default);
- bucketed output requires `saveAsTable` (metastore tracks bucket
  spec) — a plain `.parquet(path)` write silently drops bucketing;
- bucket count is a layout decision: ~total_size / target_file_size,
  rounded to keep per-bucket files near maxPartitionBytes.

The reference has no analogue (every MapReduce join re-shuffles); this
is SURVEY §4's "free from the engine, if you lay data out for it"
surface, and the co-location twin of `salted_join`'s skew handling.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _strip_scheme(loc: str) -> str:
    """Filesystem path of a location URI with scheme AND authority
    dropped, so 'file:///wh/t', 'file:/wh/t', 'hdfs://nn:8020/wh/t'
    and '/wh/t' all compare equal ('/wh/t').

    Prefix-stripping alone is not enough: DESCRIBE may return an
    authority-qualified URI while the conf-derived path has none, and
    a mismatch here fails the _location_claimed guard OPEN — deleting
    a directory a table owns. Ignoring the authority errs the other
    way (two clusters with the same path compare equal), which only
    makes the guard refuse a delete it could have done — safe."""
    from urllib.parse import urlsplit

    parts = urlsplit(loc)
    path = parts.path if parts.scheme else loc
    while path.startswith("//"):  # 'file:////wh' edge: urlsplit keeps extras
        path = path[1:]
    return path.rstrip("/") or "/"


def _table_location(spark: SparkSession, table: str) -> str | None:
    """The catalog's actual location for *table*, or None."""
    try:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    except Exception:
        return None
    for r in rows:
        if r.col_name == "Location":
            return r.data_type
    return None


def _location_claimed(spark: SparkSession, loc: str) -> bool:
    """True when any catalog table resolves to *loc* — deleting it
    would destroy that table's data, not an orphan."""
    want = _strip_scheme(loc)
    for db in spark.catalog.listDatabases():
        for t in spark.catalog.listTables(db.name):
            if t.isTemporary:  # temp views have no storage location
                continue
            got = _table_location(spark, f"{db.name}.{t.name}")
            if got is not None and _strip_scheme(got) == want:
                return True
    return False


def _bucket_meta(
    spark: SparkSession, table: str
) -> tuple[int, list[str], list[str], str]:
    """(n_buckets, bucket_cols, sort_cols, provider) from the catalog."""
    import re

    n, bcols, scols, provider = 0, [], [], "parquet"
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if r.col_name == "Num Buckets":
            n = int(r.data_type)
        elif r.col_name == "Bucket Columns":
            bcols = re.findall(r"`([^`]+)`", r.data_type)
        elif r.col_name == "Sort Columns":
            scols = re.findall(r"`([^`]+)`", r.data_type)
        elif r.col_name == "Provider":
            provider = r.data_type
    if not n or not bcols:
        raise ValueError(f"{table} is not a bucketed table")
    return n, bcols, scols, provider


def _bucket_id(cols: Sequence[str], n_buckets: int) -> Column:
    """The bucket id a bucketed write assigns a row: pmod(hash(..), n)
    is exactly how the writer derives it (Murmur3, seed 42).

    Distribute by this, not by the raw columns: a bucketed scan already
    advertises HashPartitioning(cols, n), so a repartition on the
    columns is elided while the scan still runs one task per file and
    the write emits one file per (task, bucket) (measured: 31 tasks /
    116 files instead of 4 / 4). If the identity ever drifted, the
    result is MORE files, never wrong rows — the writer recomputes
    bucket ids row-by-row regardless."""
    return F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(n_buckets))


def compact_bucketed_table(spark: SparkSession, table: str) -> dict:
    """Rewrite a bucketed table into ~one file per bucket, PRESERVING
    its bucket/sort spec — the maintenance half of the bucketed-index
    lifecycle.

    Each `write_bucketed` append adds up to one file per bucket, so a
    daily-increment index (`operators/dedup.build_minhash_index` +
    appends) fragments linearly with days; small files tax both the
    scan (file-open overhead) and the driver (listing). Compaction
    re-reads the table, distributes it by bucket id to n_buckets tasks
    (each then emits one file per bucket it holds), and swaps it in
    via staging-table + catalog rename — the exchange-free join
    property is untouched because the spec is copied from the catalog,
    never guessed.

    Windows, stated honestly (in-memory catalog, no transactions): a
    crash after the staged write leaves `{table}__compacting` behind
    (re-running cleans it up); a crash between DROP and RENAME leaves
    the data only under the staging name. A lakehouse table format
    (Delta/Iceberg, `streaming/cdc.py`) makes this swap atomic; the
    operator keeps the same shape so the upgrade is a format change.

    Returns {"files_before", "files_after", "rows"}.
    """
    from hadoop_app_spark.sources import fs as hfs

    def _files(loc: str | None) -> int:
        # Hadoop FS API, not os.listdir: table locations are URIs
        # (file://, hdfs://, s3a://) on the deployment target
        if not loc:
            return -1
        try:
            return sum(
                1
                for e in hfs.list_status(spark, loc)
                if not e["name"].startswith(("_", "."))
            )
        except Exception:
            return -1

    n_buckets, bcols, scols, provider = _bucket_meta(spark, table)
    files_before = _files(_table_location(spark, table))
    staging = f"{table}__compacting"
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    compacted = spark.table(table).repartition(n_buckets, _bucket_id(bcols, n_buckets))
    writer = compacted.write.mode("overwrite").format(provider).bucketBy(
        n_buckets, *bcols
    )
    if scols:
        writer = writer.sortBy(*scols)  # sort spec copied, not assumed == bcols
    # carry user-set properties across the swap (a fresh staging table
    # has none): the dedup/sketch index params (_set_index_params,
    # seed_hll_index) and the matview spec+ledger (_pin_spec) must
    # survive compaction or their mismatch/replay guards go blind
    # after every defrag
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        if r["key"].startswith(("dedup.", "sketch.", "matview."))
    }
    save_table_recovering_orphan(spark, writer, staging)
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    if props:
        kv = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
        spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})")
    # rows counted AFTER the swap: count(*) over the compacted files is
    # footer/metadata-bound, where a pre-rewrite count would have added
    # a second full pass over the fragmented input
    return {
        "files_before": files_before,
        "files_after": _files(_table_location(spark, table)),
        "rows": spark.table(table).count(),
    }


def save_table_recovering_orphan(
    spark: SparkSession, writer, table: str, mode: str = "overwrite"
) -> None:
    """``writer.saveAsTable(table)`` with ONE retry after deleting a
    true orphan managed location.

    A FRESH session has an empty in-memory catalog, but a managed
    location under the warehouse can survive from earlier sessions;
    saveAsTable then fails with LOCATION_ALREADY_EXISTS. Delete the
    colliding directory ONLY for a true orphan — when the failure names
    that cause, overwrite was requested, and no catalog entity claims
    the path (r3 ADVICE: a blind derived-path delete could destroy a
    custom-LOCATION table stored there). Shared by every table-writing
    operator (bucketed layouts, dedup index maintenance) so the guard
    logic lives in exactly one place.
    """
    try:
        writer.saveAsTable(table)
    except Exception as e:
        if mode != "overwrite" or "LOCATION_ALREADY_EXISTS" not in str(e):
            raise
        from hadoop_app_spark.sources.fs import delete, exists

        if "." in table:
            db, t = table.lower().rsplit(".", 1)
        else:
            db, t = spark.catalog.currentDatabase().lower(), table.lower()
        wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
        orphan = f"{wh}/{t}" if db == "default" else f"{wh}/{db}.db/{t}"
        if not exists(spark, orphan) or _location_claimed(spark, orphan):
            raise
        delete(spark, orphan, recursive=True)
        writer.saveAsTable(table)


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Persist *df* bucketed (and by default sorted) by *keys*.

    Rows are distributed by bucket id first, so each write (overwrite
    or append) emits at most one file per bucket, not one per (task,
    bucket).

    ``sort=True`` additionally orders rows within each bucket file so a
    later SortMergeJoin needs no per-task Sort — do it at write time,
    the scan is then merge-ready forever.
    """
    spark = df.sparkSession
    if mode == "overwrite":
        from hadoop_app_spark.sources.fs import delete, exists

        # resolve the ACTUAL location from the catalog (custom-LOCATION
        # tables live anywhere — deriving {wh}/{db}.db/{t} here could
        # point at a directory that belongs to a different table) and
        # clear it: that directory IS the table being overwritten, and
        # DROP alone leaves external/custom-LOCATION data behind
        loc = _table_location(spark, table) if spark.catalog.tableExists(table) else None
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        if loc is not None and exists(spark, loc):
            delete(spark, loc, recursive=True)
    df = df.repartition(n_buckets, _bucket_id(keys, n_buckets))
    writer = df.write.mode(mode).format(format).bucketBy(n_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    save_table_recovering_orphan(spark, writer, table, mode)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: str | Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Join two same-spec bucketed tables — exchange-free by layout."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def bucket_count_for(total_bytes: int, target_file_bytes: int = 256 * 1024 * 1024) -> int:
    """Pick a bucket count: one ~target-sized file per bucket per
    writing partition keeps scans vectorized and tasks balanced."""
    return max(1, round(total_bytes / target_file_bytes))
