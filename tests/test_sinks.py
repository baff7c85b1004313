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
