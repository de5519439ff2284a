"""Index layout pin for merge_upsert_partitioned: every write leaves exactly
one parquet file per ``__bucket=`` dir, the rows are the REPLACE-GROUP merge
result, and the returned bucket lists name exactly the dirs each write
produced or rewrote."""

from __future__ import annotations

import os

from vectrekker_spark.operators.delta import (
    merge_upsert_partitioned,
    read_partitioned_table,
)

N_BUCKETS = 16
SCHEMA = "id string, doc string, v long"


def _files_by_bucket(path):
    """{bucket: [parquet file names]} of the live (non-hidden) bucket dirs."""
    out = {}
    for d in os.listdir(path):
        if d.startswith("__bucket="):
            files = os.listdir(os.path.join(path, d))
            out[int(d.split("=", 1)[1])] = sorted(f for f in files if f.endswith(".parquet"))
    return out


def _assert_one_file_per_bucket(path):
    layout = _files_by_bucket(path)
    assert layout, "no bucket dirs written"
    assert {b: len(f) for b, f in layout.items()} == {b: 1 for b in layout}
    return layout


def _rows(spark, path):
    return {
        r["id"]: (r["doc"], r["v"]) for r in read_partitioned_table(spark, path).collect()
    }


def _merge(spark, path, rows, **kw):
    return merge_upsert_partitioned(
        spark, path, spark.createDataFrame(rows, SCHEMA), key="id",
        n_buckets=N_BUCKETS, group_col="doc", **kw,
    )


def test_one_parquet_file_per_bucket_across_write_and_merges(spark, tmp_path):
    path = str(tmp_path / "index")
    # 80 docs × 5 chunks over 8 input partitions: without the bucket
    # repartition each of the 8 write tasks emits its own file per bucket
    base = [(f"d{d}#{c}", f"d{d}", d * 10 + c) for d in range(80) for c in range(5)]
    first = merge_upsert_partitioned(
        spark, path, spark.createDataFrame(base, SCHEMA).repartition(8),
        key="id", n_buckets=N_BUCKETS, group_col="doc",
    )
    layout0 = _assert_one_file_per_bucket(path)
    assert first == sorted(layout0) == list(range(N_BUCKETS))
    expected = {i: (doc, v) for i, doc, v in base}
    assert _rows(spark, path) == expected

    # merge 1: re-processed docs retire all their old chunks (d1 shrinks to
    # one chunk), plus a new doc
    upd1 = [("d1#0", "d1", 1000), ("d2#0", "d2", 2000), ("d2#7", "d2", 2007),
            ("d100#0", "d100", 100000)]
    touched1 = _merge(spark, path, upd1)
    layout1 = _assert_one_file_per_bucket(path)
    for doc in ("d1", "d2"):
        for c in range(5):
            expected.pop(f"{doc}#{c}", None)
    expected.update({i: (doc, v) for i, doc, v in upd1})
    assert _rows(spark, path) == expected
    rewritten1 = {b for b in set(layout0) | set(layout1) if layout0.get(b) != layout1.get(b)}
    assert touched1 == sorted(rewritten1)
    assert 1 <= len(touched1) <= 3

    # merge 2: with delete_groups — d4 and d5 leave the index entirely
    upd2 = [("d3#9", "d3", 3009)]
    deletes = spark.createDataFrame([("d4",), ("d5",)], "doc string")
    touched2 = _merge(spark, path, upd2, delete_groups=deletes)
    layout2 = _assert_one_file_per_bucket(path)
    for doc in ("d3", "d4", "d5"):
        for c in range(5):
            expected.pop(f"{doc}#{c}", None)
    expected.update({i: (doc, v) for i, doc, v in upd2})
    assert _rows(spark, path) == expected
    rewritten2 = {b for b in set(layout1) | set(layout2) if layout1.get(b) != layout2.get(b)}
    assert touched2 == sorted(rewritten2)
    assert 1 <= len(touched2) <= 3
    assert not [d for d in os.listdir(path) if d.startswith((".trash_", ".staging_"))]


def test_merge_compacts_a_many_files_bucket(spark, tmp_path):
    # an index written before the one-file layout holds several files per
    # bucket; a merge leaves the buckets it touches with one file each
    from pyspark.sql import functions as F

    path = str(tmp_path / "index")
    base = [(f"d{d}#0", f"d{d}", d) for d in range(64)]
    (
        spark.createDataFrame(base, SCHEMA)
        .repartition(8)
        .withColumn("__bucket", F.pmod(F.xxhash64("doc"), F.lit(N_BUCKETS)))
        .write.partitionBy("__bucket")
        .parquet(path)
    )
    before = _files_by_bucket(path)
    assert max(len(f) for f in before.values()) > 1  # really the old layout
    touched = _merge(spark, path, [("d7#0", "d7", 700)])
    after = _files_by_bucket(path)
    assert [len(after[b]) for b in touched] == [1] * len(touched)
    assert {b: f for b, f in after.items() if b not in touched} == {
        b: f for b, f in before.items() if b not in touched
    }
    expected = {i: (doc, v) for i, doc, v in base}
    expected["d7#0"] = ("d7", 700)
    assert _rows(spark, path) == expected
