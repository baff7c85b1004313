"""Delete sink (K5 analog): correctness, partition pruning, idempotency."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pdfmef_spark import sinks

N_BUCKETS = 8


def _file_state(table_dir: str) -> dict:
    out = {}
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def _make_table(spark, tmp_path) -> str:
    table_dir = str(tmp_path / "docs")
    df = spark.range(1000).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
        (F.col("id") * 7).alias("val"),
    )
    df.withColumn("bucket", sinks.bucket_of(F.col("doc_id"), N_BUCKETS)).write.partitionBy(
        "bucket"
    ).parquet(table_dir)
    return table_dir


def test_delete_by_key_partitioned(spark, tmp_path):
    table_dir = _make_table(spark, tmp_path)
    doomed = spark.createDataFrame(
        [(f"doc-{i}",) for i in (3, 17, 256, 999)], "doc_id string"
    )
    before = _file_state(table_dir)
    stats = sinks.delete_by_key(
        spark, table_dir, "doc_id", doomed, n_buckets=N_BUCKETS
    )
    assert stats["rows_deleted"] == 4
    assert stats["partitions_total"] == N_BUCKETS
    assert 1 <= stats["partitions_rewritten"] <= 4  # only buckets holding keys

    remaining = spark.read.parquet(table_dir)
    assert remaining.count() == 996
    assert remaining.filter(F.col("doc_id").isin("doc-3", "doc-999")).count() == 0
    # survivors in rewritten buckets keep their values
    assert remaining.filter(F.col("doc_id") == "doc-4").first().val == 28

    # partition pruning: untouched bucket dirs are byte-identical
    after = _file_state(table_dir)
    doomed_buckets = {
        r.b for r in doomed.select(sinks.bucket_of(F.col("doc_id"), N_BUCKETS).alias("b")).collect()
    }
    for path, mtime in before.items():
        bucket_part = next((s for s in path.split(os.sep) if s.startswith("bucket=")), None)
        if bucket_part and int(bucket_part.split("=")[1]) not in doomed_buckets:
            assert after.get(path) == mtime, f"untouched partition rewritten: {path}"


def test_delete_by_key_idempotent(spark, tmp_path):
    table_dir = _make_table(spark, tmp_path)
    doomed = spark.createDataFrame([("doc-42",)], "doc_id string")
    s1 = sinks.delete_by_key(spark, table_dir, "doc_id", doomed, n_buckets=N_BUCKETS)
    assert s1["rows_deleted"] == 1
    state = _file_state(table_dir)
    s2 = sinks.delete_by_key(spark, table_dir, "doc_id", doomed, n_buckets=N_BUCKETS)
    assert s2["rows_deleted"] == 0 and s2["partitions_rewritten"] == 0
    assert _file_state(table_dir) == state  # no-op run touches nothing


def test_delete_by_key_unpartitioned(spark, tmp_path):
    table_dir = str(tmp_path / "flat")
    spark.range(100).select(
        F.concat(F.lit("k"), F.col("id")).alias("doc_id"), F.col("id").alias("v")
    ).write.parquet(table_dir)
    doomed = spark.createDataFrame([("k5",), ("k50",), ("missing",)], "doc_id string")
    stats = sinks.delete_by_key(spark, table_dir, "doc_id", doomed)
    assert stats["rows_deleted"] == 2
    assert spark.read.parquet(table_dir).count() == 98


def test_upsert_by_key_partitioned(spark, tmp_path):
    table_dir = _make_table(spark, tmp_path)
    updates = spark.createDataFrame(
        [("doc-3", -1), ("doc-999", -2), ("doc-NEW1", 111), ("doc-NEW2", 222)],
        "doc_id string, val long",
    )
    before = _file_state(table_dir)
    stats = sinks.upsert_by_key(spark, table_dir, "doc_id", updates, n_buckets=N_BUCKETS)
    assert stats["rows_updated"] == 2 and stats["rows_inserted"] == 2

    t = spark.read.parquet(table_dir)
    assert t.count() == 1002  # 1000 - 2 replaced + 2 replaced + 2 inserted
    got = {r.doc_id: r.val for r in t.filter(
        F.col("doc_id").isin("doc-3", "doc-999", "doc-NEW1", "doc-NEW2", "doc-4")
    ).collect()}
    assert got == {"doc-3": -1, "doc-999": -2, "doc-NEW1": 111, "doc-NEW2": 222,
                   "doc-4": 28}

    # pruning: buckets not holding any update key are untouched
    after = _file_state(table_dir)
    touched = {
        r.b for r in updates.select(sinks.bucket_of(F.col("doc_id"), N_BUCKETS).alias("b")).collect()
    }
    for path, mtime in before.items():
        part = next((s for s in path.split(os.sep) if s.startswith("bucket=")), None)
        if part and int(part.split("=")[1]) not in touched:
            assert after.get(path) == mtime, f"untouched partition rewritten: {path}"


def test_upsert_semantically_idempotent(spark, tmp_path):
    table_dir = _make_table(spark, tmp_path)
    updates = spark.createDataFrame([("doc-7", 70707)], "doc_id string, val long")
    sinks.upsert_by_key(spark, table_dir, "doc_id", updates, n_buckets=N_BUCKETS)
    s2 = sinks.upsert_by_key(spark, table_dir, "doc_id", updates, n_buckets=N_BUCKETS)
    assert s2["rows_updated"] == 1 and s2["rows_inserted"] == 0
    t = spark.read.parquet(table_dir)
    assert t.count() == 1000
    assert t.filter(F.col("doc_id") == "doc-7").first().val == 70707


def test_partitioned_table_requires_n_buckets(spark, tmp_path):
    import pytest

    table_dir = _make_table(spark, tmp_path)
    doomed = spark.createDataFrame([("doc-1",)], "doc_id string")
    with pytest.raises(ValueError, match="n_buckets"):
        sinks.delete_by_key(spark, table_dir, "doc_id", doomed)
    with pytest.raises(ValueError, match="n_buckets"):
        sinks.upsert_by_key(
            spark, table_dir, "doc_id",
            spark.createDataFrame([("doc-1", 5)], "doc_id string, val long"),
        )


def test_random_delete_upsert_sequence_matches_model(spark, tmp_path):
    """Five seeded random delete/upsert rounds against the parquet table
    equal a plain dict model of the same operations."""
    import random

    rng = random.Random(4242)
    table_dir = str(tmp_path / "seq")
    model = {f"doc-{i}": i * 7 for i in range(300)}
    df = spark.createDataFrame(list(model.items()), "doc_id string, val long")
    df.withColumn("bucket", sinks.bucket_of(F.col("doc_id"), N_BUCKETS)).write.partitionBy(
        "bucket"
    ).parquet(table_dir)

    universe = [f"doc-{i}" for i in range(400)]  # includes never-inserted keys
    for _ in range(5):
        ks = rng.sample(universe, rng.randint(1, 30))
        if rng.random() < 0.5:
            doomed = spark.createDataFrame([(k,) for k in ks], "doc_id string")
            sinks.delete_by_key(spark, table_dir, "doc_id", doomed, n_buckets=N_BUCKETS)
            for k in ks:
                model.pop(k, None)
        else:
            vals = [(k, rng.randint(0, 10**6)) for k in ks]
            ups = spark.createDataFrame(vals, "doc_id string, val long")
            sinks.upsert_by_key(spark, table_dir, "doc_id", ups, n_buckets=N_BUCKETS)
            model.update(dict(vals))

    got = {r.doc_id: r.val for r in spark.read.parquet(table_dir).collect()}
    assert got == model


def test_point_path_matches_bulk_path(spark, tmp_path, monkeypatch):
    """The driver-side point sinks (upsert_row/delete_key, pyarrow, no
    Spark job) against the bulk DataFrame sinks as the reference: the
    same seeded one-key op sequence on two copies of a table gives the
    same replies and the same rows, and a point op rewrites only the
    bucket of its key."""
    import random

    # rewrites stream each bucket through several record batches
    monkeypatch.setattr(sinks, "_SCAN_ROWS", 7)
    rng = random.Random(777)
    model = {f"doc-{i}": i * 7 for i in range(300)}
    dirs = {}
    for side in ("point", "bulk"):
        dirs[side] = str(tmp_path / side)
        spark.createDataFrame(list(model.items()), "doc_id string, val long").withColumn(
            "bucket", sinks.bucket_of(F.col("doc_id"), N_BUCKETS)
        ).write.partitionBy("bucket").parquet(dirs[side])

    universe = [f"doc-{i}" for i in range(400)]  # includes never-inserted keys
    for step in range(10):
        k = rng.choice(universe)
        touched = sinks.bucket_of_key(k, N_BUCKETS)
        before = _file_state(dirs["point"])
        if step % 2:
            got = sinks.delete_key(dirs["point"], "doc_id", k, N_BUCKETS)
            want = sinks.delete_by_key(
                spark, dirs["bulk"], "doc_id",
                spark.createDataFrame([(k,)], "doc_id string"),
                n_buckets=N_BUCKETS,
            )
        else:
            v = rng.randint(0, 10**6)
            got = sinks.upsert_row(dirs["point"], "doc_id", {"doc_id": k, "val": v}, N_BUCKETS)
            want = sinks.upsert_by_key(
                spark, dirs["bulk"], "doc_id",
                spark.createDataFrame([(k, v)], "doc_id string, val long"),
                n_buckets=N_BUCKETS,
            )
        assert got == want
        after = _file_state(dirs["point"])
        for path, mtime in before.items():
            part = next((s for s in path.split(os.sep) if s.startswith("bucket=")), None)
            if part and int(part.split("=")[1]) != touched:
                assert after.get(path) == mtime, f"untouched partition rewritten: {path}"

    tables = {
        side: sorted(tuple(r) for r in spark.read.parquet(d).select("doc_id", "val", "bucket").collect())
        for side, d in dirs.items()
    }
    assert tables["point"] == tables["bulk"]
    # point lookups read back exactly what a Spark scan sees
    for doc_id, val, _ in tables["point"][:20]:
        t = sinks.lookup(dirs["point"], "doc_id", doc_id, N_BUCKETS)
        assert t.to_pylist() == [{"doc_id": doc_id, "val": val}]


def test_random_upload_delete_through_service_matches_model(spark, tmp_path):
    """Seeded random uploads/deletes through DocService (the point path)
    equal a dict model — per-url GETs and a full Spark read agree."""
    import random

    from pdfmef_spark.service import DocService

    rng = random.Random(2468)
    model = {f"https://m.example/{i}": f"<html><body><h1>seed {i}</h1></body></html>".encode()
             for i in range(40)}
    svc = DocService(spark, str(tmp_path / "docs"), n_buckets=N_BUCKETS)
    svc.init_from(spark.createDataFrame(list(model.items()), "url string, html binary"))

    universe = [f"https://m.example/{i}" for i in range(60)]
    for step in range(40):
        url = rng.choice(universe)
        if rng.random() < 0.4:
            stats = svc.delete(url)
            assert stats["rows_deleted"] == (url in model)
            model.pop(url, None)
        else:
            html = f"<html><body><h1>v{step}</h1><p>{url}</p></body></html>".encode()
            stats = svc.upload(url, html)
            assert (stats["rows_updated"], stats["rows_inserted"]) == (
                (1, 0) if url in model else (0, 1)
            )
            model[url] = html

    for url in universe:
        assert svc.raw(url) == model.get(url), url
    got = {r.url: r.html for r in spark.read.parquet(svc.table_dir).collect()}
    assert got == model


def test_upsert_duplicate_update_keys_raise(spark, tmp_path):
    """MERGE one-match contract: duplicate keys in updates error instead
    of silently inserting both rows (ADVICE r02)."""
    import pytest

    table_dir = _make_table(spark, tmp_path)
    dup = spark.createDataFrame(
        [("doc-1", 1), ("doc-1", 2)], "doc_id string, val long"
    )
    with pytest.raises(ValueError, match="duplicate key"):
        sinks.upsert_by_key(spark, table_dir, "doc_id", dup, n_buckets=N_BUCKETS)
    # table untouched by the failed merge
    assert spark.read.parquet(table_dir).count() == 1000


def _bucket_files(part_dir: str) -> list[str]:
    return [
        os.path.join(part_dir, f) for f in os.listdir(part_dir)
        if not f.startswith((".", "_"))
    ]


def _keys_in_bucket(b: int, n: int, prefix: str = "doc-") -> list[str]:
    keys, i = [], 0
    while len(keys) < n:
        k = f"{prefix}{i}"
        if sinks.bucket_of_key(k, N_BUCKETS) == b:
            keys.append(k)
        i += 1
    return keys


def _delta_files(part_dir: str) -> list[str]:
    return [f for f in _bucket_files(part_dir) if os.path.basename(f).startswith("delta-")]


def test_point_uploads_do_not_add_row_groups(spark, tmp_path):
    """Point uploads of new keys into one bucket leave its base files as
    they are (same inodes) and gather in one delta file of one row
    group, so forty uploads leave as many row groups as twenty."""
    import pyarrow.parquet as pq

    table_dir = str(tmp_path / "rg")
    spark.createDataFrame(
        [(f"doc-{i}", i) for i in range(300)], "doc_id string, val long"
    ).withColumn("bucket", sinks.bucket_of(F.col("doc_id"), N_BUCKETS)).write.partitionBy(
        "bucket"
    ).parquet(table_dir)
    part = f"{table_dir}/bucket=3"
    base = {f: os.stat(f).st_ino for f in _bucket_files(part)}

    def row_groups() -> int:
        return sum(pq.ParquetFile(f).metadata.num_row_groups for f in _bucket_files(part))

    keys = _keys_in_bucket(3, 40, prefix="new-")
    for i, k in enumerate(keys[:20]):
        sinks.upsert_row(table_dir, "doc_id", {"doc_id": k, "val": i}, N_BUCKETS)
    (delta,) = _delta_files(part)
    assert {f: os.stat(f).st_ino for f in _bucket_files(part) if f != delta} == base
    meta = pq.ParquetFile(delta).metadata
    assert (meta.num_row_groups, meta.num_rows) == (1, 20)
    groups = row_groups()
    for i, k in enumerate(keys[20:]):
        sinks.upsert_row(table_dir, "doc_id", {"doc_id": k, "val": i}, N_BUCKETS)
    assert row_groups() == groups


def test_delta_compacts_past_scan_rows_and_on_base_key_writes(spark, tmp_path, monkeypatch):
    """With the delta capped at 4 rows: a fifth new key compacts the
    bucket into one file, and an update and a delete of a key in a base
    file each fold the delta in. After every step the replies and the
    bucket's rows equal the bulk path's."""
    monkeypatch.setattr(sinks, "_SCAN_ROWS", 4)
    b = 3
    dirs = {}
    for side in ("point", "bulk"):
        dirs[side] = str(tmp_path / side)
        spark.createDataFrame(
            [(f"doc-{i}", i) for i in range(300)], "doc_id string, val long"
        ).withColumn("bucket", sinks.bucket_of(F.col("doc_id"), N_BUCKETS)).write.partitionBy(
            "bucket"
        ).parquet(dirs[side])
    part = f"{dirs['point']}/bucket={b}"
    stored = _keys_in_bucket(b, 2)
    new = _keys_in_bucket(b, 7, prefix="new-")

    def step(k: str, v: int | None) -> None:
        if v is None:
            got = sinks.delete_key(dirs["point"], "doc_id", k, N_BUCKETS)
            want = sinks.delete_by_key(
                spark, dirs["bulk"], "doc_id",
                spark.createDataFrame([(k,)], "doc_id string"), n_buckets=N_BUCKETS,
            )
        else:
            got = sinks.upsert_row(dirs["point"], "doc_id", {"doc_id": k, "val": v}, N_BUCKETS)
            want = sinks.upsert_by_key(
                spark, dirs["bulk"], "doc_id",
                spark.createDataFrame([(k, v)], "doc_id string, val long"),
                n_buckets=N_BUCKETS,
            )
        assert got == want, k
        rows = {
            side: sorted(tuple(r) for r in spark.read.parquet(f"{d}/bucket={b}").collect())
            for side, d in dirs.items()
        }
        assert rows["point"] == rows["bulk"], k

    n_base = len(_bucket_files(part))
    for i, k in enumerate(new[:4]):
        step(k, i)
    assert len(_bucket_files(part)) == n_base + 1 and len(_delta_files(part)) == 1
    step(new[4], 4)  # the delta would hold 5 rows: compact
    assert len(_bucket_files(part)) == 1 and not _delta_files(part)
    step(new[5], 5)
    assert len(_delta_files(part)) == 1
    step(stored[0], -1)  # update of a base key folds the delta in
    assert len(_bucket_files(part)) == 1 and not _delta_files(part)
    step(new[6], 6)
    assert len(_delta_files(part)) == 1
    step(stored[1], None)  # delete of a base key folds the delta in
    assert len(_bucket_files(part)) == 1 and not _delta_files(part)
    assert sinks.lookup(dirs["point"], "doc_id", new[6], N_BUCKETS)["val"].to_pylist() == [6]


def test_point_path_over_multi_file_bucket_with_null_key(spark, tmp_path):
    """A bucket written by several Spark tasks (several files) that also
    holds a null-key row: point lookups, upserts and deletes give the
    bulk path's replies and rows, and the null-key row survives every
    rewrite (as it survives the bulk path's anti join)."""
    import math

    import pyarrow.parquet as pq

    null_bucket = spark.range(1).select(
        sinks.bucket_of(F.lit(None).cast("string"), N_BUCKETS).alias("b")
    ).first().b
    keys = _keys_in_bucket(null_bucket, 41)
    absent = keys.pop()
    rows = [(k, i) for i, k in enumerate(keys)] + [(None, -7)]
    dirs = {}
    for side in ("point", "bulk"):
        dirs[side] = str(tmp_path / side)
        spark.createDataFrame(rows, "doc_id string, val long").repartition(4).withColumn(
            "bucket", sinks.bucket_of(F.col("doc_id"), N_BUCKETS)
        ).write.partitionBy("bucket").parquet(dirs[side])
    part = f"{dirs['point']}/bucket={null_bucket}"
    assert len(_bucket_files(part)) > 1

    for k, v in rows[:5]:
        assert sinks.lookup(dirs["point"], "doc_id", k, N_BUCKETS).to_pylist() == [
            {"doc_id": k, "val": v}
        ]
    assert sinks.lookup(dirs["point"], "doc_id", absent, N_BUCKETS).num_rows == 0

    ops = [("upsert", keys[0], 100), ("delete", keys[1], None),
           ("upsert", absent, 200), ("delete", keys[1], None),
           ("upsert", keys[2], 300), ("delete", keys[3], None)]
    for verb, k, v in ops:
        if verb == "upsert":
            got = sinks.upsert_row(dirs["point"], "doc_id", {"doc_id": k, "val": v}, N_BUCKETS)
            want = sinks.upsert_by_key(
                spark, dirs["bulk"], "doc_id",
                spark.createDataFrame([(k, v)], "doc_id string, val long"),
                n_buckets=N_BUCKETS,
            )
        else:
            got = sinks.delete_key(dirs["point"], "doc_id", k, N_BUCKETS)
            want = sinks.delete_by_key(
                spark, dirs["bulk"], "doc_id",
                spark.createDataFrame([(k,)], "doc_id string"),
                n_buckets=N_BUCKETS,
            )
        assert got == want, (verb, k)

    tables = {
        side: sorted(
            (tuple(r) for r in spark.read.parquet(d).select("doc_id", "val").collect()),
            key=repr,
        )
        for side, d in dirs.items()
    }
    assert tables["point"] == tables["bulk"]
    assert (None, -7) in tables["point"]
    # the rewrites merged the bucket's files into one, a row group per
    # _SCAN_ROWS rows
    (f,) = _bucket_files(part)
    meta = pq.ParquetFile(f).metadata
    assert meta.num_row_groups <= math.ceil(meta.num_rows / sinks._SCAN_ROWS)
    assert sinks.lookup(dirs["point"], "doc_id", keys[0], N_BUCKETS)["val"].to_pylist() == [100]


def _crash_mid_swap(table_dir: str, key: str) -> None:
    """Run a point upsert of `key` in a child process that dies right
    after the swap's first rename, leaving the key's bucket renamed
    away."""
    import subprocess
    import sys

    child = f"""
import os
from pdfmef_spark import sinks

real = os.rename

def rename(src, dst):
    real(src, dst)
    os._exit(3)  # die after the swap's first rename

os.rename = rename
sinks.upsert_row({table_dir!r}, "doc_id", {{"doc_id": {key!r}, "val": -5}}, {N_BUCKETS})
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", child], cwd=repo, timeout=120,
        env={**os.environ, "PYTHONPATH": repo},
    )
    assert proc.returncode == 3
    part = f"{table_dir}/bucket={sinks.bucket_of_key(key, N_BUCKETS)}"
    assert not os.path.isdir(part)  # the crash left the bucket renamed away


def test_point_ops_recover_an_interrupted_swap(spark, tmp_path):
    """A process that dies between the two renames of a bucket swap
    leaves the bucket renamed away; the next point operation rolls it
    back, so no row is lost and the bucket count does not drop."""
    table_dir = _make_table(spark, tmp_path)
    b = sinks.bucket_of_key("doc-5", N_BUCKETS)
    part = f"{table_dir}/bucket={b}"
    before = {r.doc_id: r.val for r in spark.read.parquet(part).collect()}
    _crash_mid_swap(table_dir, "doc-5")

    got = sinks.lookup(table_dir, "doc_id", "doc-5", N_BUCKETS)
    assert got is not None and got.to_pylist() == [{"doc_id": "doc-5", "val": 35}]
    assert not [n for n in os.listdir(table_dir) if n.startswith(f".bucket={b}.")]

    other = next(k for k in before if k != "doc-5")
    stats = sinks.upsert_row(table_dir, "doc_id", {"doc_id": other, "val": 1}, N_BUCKETS)
    assert stats["rows_updated"] == 1 and stats["partitions_total"] == N_BUCKETS
    after = {r.doc_id: r.val for r in spark.read.parquet(part).collect()}
    assert after == {**before, other: 1}


def test_bulk_ops_recover_an_interrupted_swap(spark, tmp_path):
    """The bulk sinks roll back an interrupted swap of every bucket they
    touch before listing it: a bulk delete then finds the bucket renamed
    away and deletes from it, and a bulk upsert merges into its rows
    instead of recreating it from the updates alone."""
    table_dir = _make_table(spark, tmp_path)
    b = sinks.bucket_of_key("doc-5", N_BUCKETS)
    part = f"{table_dir}/bucket={b}"
    before = {r.doc_id: r.val for r in spark.read.parquet(part).collect()}
    victim, other = sorted(k for k in before if k != "doc-5")[:2]

    _crash_mid_swap(table_dir, "doc-5")
    doomed = spark.createDataFrame([(victim,)], "doc_id string")
    stats = sinks.delete_by_key(spark, table_dir, "doc_id", doomed, n_buckets=N_BUCKETS)
    assert stats == {
        "rows_deleted": 1, "partitions_rewritten": 1, "partitions_total": N_BUCKETS
    }
    del before[victim]
    assert {r.doc_id: r.val for r in spark.read.parquet(part).collect()} == before

    _crash_mid_swap(table_dir, "doc-5")
    updates = spark.createDataFrame([(other, 1)], "doc_id string, val long")
    stats = sinks.upsert_by_key(spark, table_dir, "doc_id", updates, n_buckets=N_BUCKETS)
    assert stats == {
        "rows_updated": 1, "rows_inserted": 0,
        "partitions_rewritten": 1, "partitions_total": N_BUCKETS,
    }
    assert {r.doc_id: r.val for r in spark.read.parquet(part).collect()} == {
        **before, other: 1
    }
    assert not [n for n in os.listdir(table_dir) if n.startswith(".bucket=")]
    assert spark.read.parquet(table_dir).count() == 999


def test_point_ops_recover_an_interrupted_delta_swap(spark, tmp_path):
    """A process that dies between the renames of a new key's upload (a
    swap of hard-linked base files plus a rewritten delta file) leaves
    the bucket renamed away; recovery keeps every base and delta row,
    and a full Spark read still counts the whole table."""
    table_dir = _make_table(spark, tmp_path)
    b = sinks.bucket_of_key("doc-5", N_BUCKETS)
    part = f"{table_dir}/bucket={b}"
    new = _keys_in_bucket(b, 3, prefix="new-")
    for i, k in enumerate(new[:2]):
        sinks.upsert_row(table_dir, "doc_id", {"doc_id": k, "val": i}, N_BUCKETS)
    assert len(_delta_files(part)) == 1
    before = {r.doc_id: r.val for r in spark.read.parquet(part).collect()}

    _crash_mid_swap(table_dir, new[2])
    assert sinks.lookup(table_dir, "doc_id", new[2], N_BUCKETS).num_rows == 0
    assert not [n for n in os.listdir(table_dir) if n.startswith(f".bucket={b}.")]
    for k in ("doc-5", new[0], new[1]):
        assert sinks.lookup(table_dir, "doc_id", k, N_BUCKETS).to_pylist() == [
            {"doc_id": k, "val": before[k]}
        ]
    assert {r.doc_id: r.val for r in spark.read.parquet(part).collect()} == before
    assert spark.read.parquet(table_dir).count() == 1002
