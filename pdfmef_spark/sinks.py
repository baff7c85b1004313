"""Row-level delete + upsert sinks over partitioned parquet tables
(K5 analog; upsert = the MERGE INTO shape of the reference's
update_state writes, wrappers.py update_state).

The reference's only index-maintenance surface is an Elasticsearch
`delete_by_query` on paper_id (script/delete_papers.py:1-18). The
engine's tables are bucket-partitioned parquet (Iceberg-style layout,
sources/store.py), so the Spark-first analog is a copy-on-write
row-level delete that rewrites ONLY the partitions that can contain the
doomed keys — at 100 TB a delete of k documents touches O(k) buckets,
never the whole table (on a real Iceberg catalog this same operation is
`DELETE FROM t WHERE key IN (...)`, a metadata-level copy-on-write the
engine would prefer; this module is the explicit parquet-layout
fallback).

Safety: the rewrite never reads and overwrites a path in the same job —
affected partitions are written to a hidden sibling temp dir first,
then swapped in by rename (crash between the two renames leaves the old
data recoverable in a hidden dir; Iceberg's metadata commit makes the
same operation atomic, see _swap_in). Untouched partition directories
are never listed, read, or rewritten (asserted by test).

Two write paths share that one swap (:func:`_swap_in`, which takes the
writer as a callable):

* the BULK path (:func:`delete_by_key`, :func:`upsert_by_key`) takes
  DataFrames and runs Spark jobs — the right tool for many keys;
* the POINT path (:func:`lookup`, :func:`upsert_row`,
  :func:`delete_key`) takes ONE key and runs in the driver process with
  pyarrow, no Spark job: the key's bucket is computed with the
  pure-python XXH64 (:func:`bucket_of_key`), and only that bucket
  directory (``bucket=K``, :data:`BUCKET_COL`) is read and rewritten, so
  a per-document request costs milliseconds instead of several Spark job
  round trips. A rewrite streams the bucket's record batches from the
  scan into one parquet writer, so driver memory per write is about one
  parquet row group plus a few batches, not the bucket (the bytes
  rewritten still grow with the bucket). The point path writes files
  Spark reads back as the same table: rows take the store's own schema
  with its schema metadata (Spark's row-schema key rides along), and
  timestamps are written as INT96 like Spark's own parquet output —
  pyarrow's default nanosecond timestamps make every full Spark read of
  the table fail with a column type mismatch. Results and replies equal
  the bulk path's (pinned by tests/test_sinks.py, which runs the bulk
  path as the reference).

Neither path locks: a reader that lists a bucket between the two
renames of a swap finds it missing. Callers serialize writers against
readers (service.serve is single-threaded for this reason).
"""

from __future__ import annotations

import datetime
import os
import shutil
import uuid
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from pdfmef_spark.functions.xxh64 import xxh64_signed


def bucket_of(key, n_buckets: int):
    """The layout's bucketing function (matches sources/store.py)."""
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


def bucket_of_key(key: str, n_buckets: int) -> int:
    """:func:`bucket_of` for one string key, computed driver-side (the
    pure-python XXH64 is parity-pinned against Spark's ``xxhash64``;
    python ``%`` already has pmod semantics for a positive modulus)."""
    return xxh64_signed(key.encode("utf-8")) % n_buckets


def _part_dirs(table_dir: str, bucket_col: str, n_buckets: int | None) -> list[str]:
    """Bucket partition dirs of the table; refuses to silently flatten a
    partitioned layout when the caller forgot n_buckets."""
    dirs = sorted(
        d for d in os.listdir(table_dir) if d.startswith(f"{bucket_col}=")
    )
    if dirs and n_buckets is None:
        raise ValueError(
            f"{table_dir} is hive-partitioned by {bucket_col!r} but n_buckets "
            "was not given; a full rewrite would flatten the layout and lose "
            "partition pruning. Pass n_buckets matching the write layout."
        )
    return dirs


def delete_by_key(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    keys: DataFrame,
    bucket_col: str = "bucket",
    n_buckets: int | None = None,
) -> dict:
    """Delete every row whose `key_col` appears in `keys` (one column).

    If the table is hive-partitioned by `bucket_col` = bucket_of(key)
    (directory layout `bucket_col=N/`), only affected partitions are
    rewritten; otherwise the whole table is rewritten once. Returns
    {"rows_deleted", "partitions_rewritten", "partitions_total"}.
    Idempotent: a second run with the same keys deletes 0 rows and
    rewrites nothing.
    """
    keys = keys.select(F.col(key_col)).distinct()
    part_dirs = _part_dirs(table_dir, bucket_col, n_buckets)
    if part_dirs and n_buckets is not None:
        k = keys.withColumn(bucket_col, bucket_of(F.col(key_col), n_buckets))
        affected = {r[bucket_col] for r in k.select(bucket_col).distinct().collect()}
        targets = [d for d in part_dirs if int(d.split("=", 1)[1]) in affected]
        rows_deleted = 0
        rewritten = 0
        for d in targets:
            src = f"{table_dir}/{d}"
            sub = spark.read.parquet(src)
            doomed = sub.join(F.broadcast(keys), key_col, "left_semi").count()
            if doomed == 0:
                continue
            remaining = sub.join(F.broadcast(keys), key_col, "left_anti")
            _swap_in(src, remaining.write.parquet)
            rows_deleted += doomed
            rewritten += 1
        return {
            "rows_deleted": rows_deleted,
            "partitions_rewritten": rewritten,
            "partitions_total": len(part_dirs),
        }

    # unpartitioned fallback: one full copy-on-write rewrite
    tbl = spark.read.parquet(table_dir)
    doomed = tbl.join(F.broadcast(keys), key_col, "left_semi").count()
    if doomed == 0:
        return {"rows_deleted": 0, "partitions_rewritten": 0, "partitions_total": 1}
    remaining = tbl.join(F.broadcast(keys), key_col, "left_anti")
    _swap_in(table_dir, remaining.write.parquet)
    return {"rows_deleted": doomed, "partitions_rewritten": 1, "partitions_total": 1}


def _swap_in(target_dir: str, write: Callable[[str], None]) -> None:
    """Run ``write(tmp)`` into a hidden temp sibling of target_dir, then
    swap it into place with two renames (never read-and-overwrite the
    same path in one job). A target that does not exist yet (a brand-new
    bucket) is a single rename.

    Temp/old dirs are dot-prefixed BASENAMES so Spark partition discovery,
    pyarrow dataset discovery and the `bucket=` listings in this module
    never see them. The swap is two renames, not one atomic exchange: a
    crash between them leaves the data recoverable in the hidden
    `.<name>.old-*` dir rather than committed — on an Iceberg catalog
    this whole operation is a single atomic metadata commit, which is
    what a production deployment should use; this is the explicit
    plain-parquet fallback.
    """
    parent, base = os.path.dirname(target_dir), os.path.basename(target_dir)
    tmp = os.path.join(parent, f".{base}.tmp-{uuid.uuid4().hex[:8]}")
    write(tmp)
    if not os.path.isdir(target_dir):
        os.rename(tmp, target_dir)
        return
    old = os.path.join(parent, f".{base}.old-{uuid.uuid4().hex[:8]}")
    os.rename(target_dir, old)
    os.rename(tmp, target_dir)
    shutil.rmtree(old)


def upsert_by_key(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    updates: DataFrame,
    bucket_col: str = "bucket",
    n_buckets: int | None = None,
) -> dict:
    """MERGE INTO analog over bucket-partitioned parquet: rows matching an
    update key are replaced, unmatched update rows are inserted — each
    affected bucket rewritten copy-on-write, untouched buckets never read.

    `updates` must carry the table's data columns (everything except the
    hive bucket column). On an Iceberg catalog this is
    `MERGE INTO t USING u ON t.key = u.key WHEN MATCHED THEN UPDATE ...
    WHEN NOT MATCHED THEN INSERT ...`; this is the explicit parquet-layout
    fallback with the same partition-pruning property — including MERGE's
    one-match contract: duplicate keys in `updates` raise (a MERGE with
    multiple source matches per target row errors; silently inserting
    both would leave duplicate rows per key and over-count rows_inserted).
    """
    dup = (
        updates.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"upsert_by_key: duplicate key {dup[0][key_col]!r} in updates — "
            "MERGE requires at most one source row per target key "
            "(dropDuplicates the updates first if last-writer-wins is intended)"
        )
    part_dirs = _part_dirs(table_dir, bucket_col, n_buckets)
    if part_dirs and n_buckets is not None:
        up = updates.withColumn(bucket_col, bucket_of(F.col(key_col), n_buckets))
        affected = sorted(
            r[bucket_col] for r in up.select(bucket_col).distinct().collect()
        )
        rows_updated = rows_inserted = rewritten = 0
        for b in affected:
            src = f"{table_dir}/{bucket_col}={b}"
            u = up.filter(F.col(bucket_col) == b).drop(bucket_col)
            if os.path.isdir(src):
                sub = spark.read.parquet(src)
                matched = sub.join(F.broadcast(u.select(key_col)), key_col, "left_semi").count()
                merged = sub.join(
                    F.broadcast(u.select(key_col)), key_col, "left_anti"
                ).unionByName(u)
                _swap_in(src, merged.write.parquet)
            else:  # brand-new bucket: all inserts
                matched = 0
                _swap_in(src, u.write.parquet)
            n_up = u.count()
            rows_updated += matched
            rows_inserted += n_up - matched
            rewritten += 1
        return {
            "rows_updated": rows_updated,
            "rows_inserted": rows_inserted,
            "partitions_rewritten": rewritten,
            "partitions_total": max(len(part_dirs), rewritten),
        }

    tbl = spark.read.parquet(table_dir)
    matched = tbl.join(F.broadcast(updates.select(key_col)), key_col, "left_semi").count()
    merged = tbl.join(
        F.broadcast(updates.select(key_col)), key_col, "left_anti"
    ).unionByName(updates.select(*tbl.columns))
    _swap_in(table_dir, merged.write.parquet)
    return {
        "rows_updated": matched,
        "rows_inserted": updates.count() - matched,
        "partitions_rewritten": 1,
        "partitions_total": 1,
    }


# -- point path: one key, driver-side pyarrow, no Spark job ------------------

BUCKET_COL = "bucket"  # the point path's hive partition column
_SCAN_ROWS = 1024  # rows per record batch when a rewrite streams a bucket


def _bucket_dirs(table_dir: str, n_buckets: int) -> list[str]:
    """The point path's layout check: it only serves hive-bucketed tables
    (a flat table would get bucket dirs mixed into its root)."""
    dirs = _part_dirs(table_dir, BUCKET_COL, n_buckets)
    if not dirs:
        raise ValueError(
            f"{table_dir} has no {BUCKET_COL}=N partitions; the point path "
            "serves hive-bucketed tables only (use the bulk DataFrame path)"
        )
    return dirs


def _bucket_dir(table_dir: str, key: str, n_buckets: int) -> str:
    return os.path.join(table_dir, f"{BUCKET_COL}={bucket_of_key(key, n_buckets)}")


def _dataset(part_dir: str, schema: pa.Schema | None = None) -> pads.Dataset:
    # discovery skips dot/underscore files (Spark's .crc and _SUCCESS)
    return pads.dataset(part_dir, format="parquet", schema=schema)


def _nullable_schema(part_dir: str) -> pa.Schema:
    """The bucket's schema with every field nullable and the schema
    metadata (which carries Spark's row schema) kept."""
    store = _dataset(part_dir).schema
    return pa.schema([f.with_nullable(True) for f in store], metadata=store.metadata)


def _matches(part_dir: str, key_col: str, key: str) -> int:
    # the filter reads the key column only
    return _dataset(part_dir).count_rows(filter=pc.field(key_col) == key)


def _rewrite(
    part_dir: str | None, key_col: str, key: str, schema: pa.Schema,
    new: pa.Table | None = None,
) -> Callable[[str], None]:
    """Writer for _swap_in: streams `part_dir`'s rows minus those keyed
    `key` (a null key is kept, as by the bulk path's anti join), then
    `new`, into one parquet file Spark reads back as part of the table
    (INT96 timestamps, as Spark writes them). Record batches go straight
    from the scan to the writer, so driver memory holds about one parquet
    row group of the bucket (Spark writes them at up to 128 MB) plus a
    few batches, never the whole bucket."""

    def write(path: str) -> None:
        os.makedirs(path)
        with pq.ParquetWriter(
            os.path.join(path, f"part-{uuid.uuid4().hex}.parquet"),
            schema,
            compression="zstd",
            use_deprecated_int96_timestamps=True,
        ) as out:
            if part_dir is not None:
                for batch in _dataset(part_dir, schema).to_batches(
                    filter=~pc.field(key_col).isin([key]),
                    batch_size=_SCAN_ROWS,
                    batch_readahead=1,
                    fragment_readahead=1,
                ):
                    if batch.num_rows:
                        out.write_batch(batch)
            if new is not None:
                out.write_table(new)

    return write


def lookup(
    table_dir: str,
    key_col: str,
    key: str,
    n_buckets: int,
    columns: list[str] | None = None,
) -> pa.Table | None:
    """Rows whose `key_col` equals `key`, read from the key's bucket
    directory ONLY (nothing else is listed or opened). None when that
    bucket does not exist."""
    part = _bucket_dir(table_dir, key, n_buckets)
    if not os.path.isdir(part):
        return None
    return _dataset(part).to_table(columns=columns, filter=pc.field(key_col) == key)


def _as_utc(v):
    # pyspark turns a naive datetime into an instant in the local time
    # zone; pyarrow would store its wall clock as UTC — match pyspark
    if isinstance(v, datetime.datetime) and v.tzinfo is None:
        return v.astimezone(datetime.timezone.utc)
    return v


def upsert_row(table_dir: str, key_col: str, row: dict, n_buckets: int) -> dict:
    """Point MERGE: :func:`upsert_by_key` for one row given as a
    ``{column: value}`` dict, run driver-side with pyarrow.

    The row takes the STORE's schema — every field nullable, the
    store's schema metadata kept — so columns the row omits are null and
    stores with extra per-document columns work unchanged. Same reply as
    the bulk path; only the row's bucket is rewritten."""
    key = row[key_col]
    part_dirs = _bucket_dirs(table_dir, n_buckets)
    part = _bucket_dir(table_dir, key, n_buckets)
    schema = _nullable_schema(os.path.join(table_dir, part_dirs[0]))
    new = pa.Table.from_pylist(
        [{f.name: _as_utc(row.get(f.name)) for f in schema}], schema=schema
    )
    if os.path.isdir(part):
        matched = _matches(part, key_col, key)
        _swap_in(part, _rewrite(part, key_col, key, schema, new))
    else:  # brand-new bucket: an insert
        matched = 0
        _swap_in(part, _rewrite(None, key_col, key, schema, new))
    return {
        "rows_updated": matched,
        "rows_inserted": 1 - matched,
        "partitions_rewritten": 1,
        "partitions_total": len(part_dirs),
    }


def delete_key(table_dir: str, key_col: str, key: str, n_buckets: int) -> dict:
    """Point DELETE: :func:`delete_by_key` for one key, run driver-side
    with pyarrow. Same reply; idempotent (a bucket without the key is
    not rewritten)."""
    part_dirs = _bucket_dirs(table_dir, n_buckets)
    part = _bucket_dir(table_dir, key, n_buckets)
    doomed = _matches(part, key_col, key) if os.path.isdir(part) else 0
    if doomed:
        _swap_in(part, _rewrite(part, key_col, key, _nullable_schema(part)))
    return {
        "rows_deleted": doomed,
        "partitions_rewritten": int(doomed > 0),
        "partitions_total": len(part_dirs),
    }
