"""Bucketed-table pruned merges (VERDICT r1 #4).

The 100 TB contract: an incremental load must rewrite only the key
buckets it touches, never the whole snapshot. Assertions are on the
actual on-disk layout — which bucket directories a merge wrote — plus
equivalence with the unbucketed (full-rewrite) result.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import Row, functions as F, types as T

from slowly_changing_dimensions_data_engineering_spark import schemas
from slowly_changing_dimensions_data_engineering_spark.operators.merge import merge_upsert
from slowly_changing_dimensions_data_engineering_spark.operators.scd2 import scd2_merge
from slowly_changing_dimensions_data_engineering_spark.store import TableStore, bucket_id

KEY = ["supplier_code"]
SCD2_KEY = ["supplier_code", "supplier_state"]
CMP = ["supplier_state", "supplier_name", "supplier_key"]
N_BUCKETS = 8


def _supplier_rows(spark, keys):
    return spark.createDataFrame(
        [Row(supplier_key=k, supplier_code=f"S{k}", supplier_name=f"name{k}",
             supplier_state=f"state{k % 4}") for k in keys],
        schemas.SUPPLIER)


def _written_buckets(store, name, version):
    vdir = store._vdir(name, version)
    return sorted(d for d in os.listdir(vdir) if d.startswith("_bucket="))


def test_incremental_merge_rewrites_only_touched_buckets(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.create("landing", schemas.SUPPLIER, bucket_by=(KEY, N_BUCKETS))

    # initial load: 64 suppliers spread over every bucket
    merge_upsert(store, spark, "landing", _supplier_rows(spark, range(64)), KEY, CMP)
    v1 = store.version("landing")
    assert len(_written_buckets(store, "landing", v1)) == N_BUCKETS

    # sparse delta: ONE updated supplier → exactly one bucket rewritten
    delta = _supplier_rows(spark, [7]).withColumn(
        "supplier_name", F.lit("renamed"))
    merge_upsert(store, spark, "landing", delta, KEY, CMP)
    v2 = store.version("landing")
    written = _written_buckets(store, "landing", v2)
    assert len(written) == 1
    expected = spark.createDataFrame([("S7",)], ["supplier_code"]) \
        .select(bucket_id(KEY, N_BUCKETS).alias("b")).head()["b"]
    assert written == [f"_bucket={expected}"]

    # read-back equals a full-rewrite (unbucketed) reference run
    ref = TableStore(str(tmp_path / "ref"))
    ref.create("landing", schemas.SUPPLIER)
    merge_upsert(ref, spark, "landing", _supplier_rows(spark, range(64)), KEY, CMP)
    merge_upsert(ref, spark, "landing", delta, KEY, CMP)
    cols = schemas.SUPPLIER.fieldNames()
    got = {tuple(r) for r in store.read(spark, "landing").select(*cols).collect()}
    want = {tuple(r) for r in ref.read(spark, "landing").select(*cols).collect()}
    assert got == want and len(got) == 64


def test_scd2_merge_prunes_and_matches_full_rewrite(spark, tmp_path):
    """Same two-load scenario against bucketed vs unbucketed staging:
    identical SCD2 history, but the incremental cycle writes a strict
    subset of buckets."""
    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    results = {}
    for label, bucket_by in (("bucketed", (KEY, N_BUCKETS)), ("full", None)):
        store = TableStore(str(tmp_path / label))
        store.create("landing", schemas.SUPPLIER, bucket_by=bucket_by)
        store.create("staging", schemas.SUPPLIER_STAGING, bucket_by=bucket_by)
        loads = [
            (_supplier_rows(spark, range(32)), t1),
            (_supplier_rows(spark, [3]).withColumn(
                "supplier_state", F.lit("moved")), t2),
        ]
        for load, ts in loads:
            offset = store.get_offset("scd2")
            merge_upsert(store, spark, "landing", load, KEY, CMP)
            stream = store.read_changes(spark, "landing", since=offset)
            if stream is not None:
                scd2_merge(store, spark, "staging", stream, SCD2_KEY, ts)
            store.set_offset("scd2", store.version("landing"))
        cols = schemas.SUPPLIER_STAGING.fieldNames()
        results[label] = {tuple(r)
                          for r in store.read(spark, "staging").select(*cols).collect()}
        if label == "bucketed":
            v = store.version("staging")
            incr = _written_buckets(store, "staging", v)
            assert 0 < len(incr) < N_BUCKETS  # pruned, not a full rewrite

    assert results["bucketed"] == results["full"]
    # the scenario really produced history: 32 originals (one now closed)
    # + 1 reopened version for the moved supplier
    assert len(results["bucketed"]) == 33


def test_truncate_and_empty_bucket_handling(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.create("t", schemas.SUPPLIER, bucket_by=(KEY, 4))
    merge_upsert(store, spark, "t", _supplier_rows(spark, range(8)), KEY, CMP)
    assert store.read(spark, "t").count() == 8
    store.truncate(spark, "t")
    assert store.read(spark, "t").count() == 0
    # table still usable after truncate
    merge_upsert(store, spark, "t", _supplier_rows(spark, [1]), KEY, CMP)
    assert store.read(spark, "t").count() == 1


def test_truncate_is_metadata_only(spark, tmp_path):
    """TRUNCATE on a plain and on a bucketed table commits an empty
    snapshot without writing data: no version dir, empty now and by
    time travel, and clone, compact, vacuum and restore all handle the
    fileless version."""
    store = TableStore(str(tmp_path))
    store.create("p", schemas.SUPPLIER)
    store.create("b", schemas.SUPPLIER, bucket_by=(KEY, 4))
    for t in ("p", "b"):
        merge_upsert(store, spark, t, _supplier_rows(spark, range(8)),
                     KEY, CMP)                                       # v0
        assert store.truncate(spark, t) == 1                         # v1
        assert not os.path.exists(store._vdir(t, 1))
        assert store.read(spark, t).count() == 0
        assert store.read(spark, t, version=1).count() == 0
        assert store.read(spark, t, version=0).count() == 8
        assert store.compact(spark, t) == 1
    assert [(r["n_segments"], r["n_buckets"]) for r in
            store.history_df(spark, "p").orderBy("version").collect()] \
        == [(1, None), (0, None)]
    assert [(r["n_segments"], r["n_buckets"]) for r in
            store.history_df(spark, "b").orderBy("version").collect()] \
        == [(None, 4), (None, 4)]

    # a clone of a truncated table is empty and writable
    for t in ("p", "b"):
        store.clone(t, f"{t}_dup")
        assert store.read(spark, f"{t}_dup").count() == 0
        merge_upsert(store, spark, f"{t}_dup", _supplier_rows(spark, [1]),
                     KEY, CMP)
        assert store.read(spark, f"{t}_dup").count() == 1

    # restore back to the truncated version, then vacuum every data dir
    for t in ("p", "b"):
        merge_upsert(store, spark, t, _supplier_rows(spark, range(3)),
                     KEY, CMP)                                       # v2
        assert store.read(spark, t).count() == 3
        assert store.restore(t, 1) == 3
        assert store.read(spark, t).count() == 0
        assert sorted(store.vacuum(t, keep_last=1)) == [0, 2]
        assert not [d for d in os.listdir(store._tdir(t))
                    if d.startswith("v")]
        assert store.read(spark, t).count() == 0
        merge_upsert(store, spark, t, _supplier_rows(spark, range(2)),
                     KEY, CMP)
        assert store.read(spark, t).count() == 2


def test_small_commits_write_one_file_per_bucket_and_batch(spark, tmp_path):
    """Commit writes are sized by bytes: a small bucketed rewrite leaves
    exactly one parquet file per rewritten bucket and one for its
    change batch, a full-snapshot commit of a small plain table leaves
    one file, and compact finds nothing to do on either."""
    store = TableStore(str(tmp_path))
    store.create("landing", schemas.SUPPLIER, bucket_by=(KEY, N_BUCKETS))
    v1 = merge_upsert(store, spark, "landing",
                      _supplier_rows(spark, range(64)), KEY, CMP)
    # pruned merge: 4 updated keys and 2 new ones
    delta = _supplier_rows(spark, [3, 7, 12, 40, 100, 101]).withColumn(
        "supplier_name", F.lit("renamed"))
    v2 = merge_upsert(store, spark, "landing", delta, KEY, CMP)
    for v in (v1, v2):
        for b in _written_buckets(store, "landing", v):
            files = store._parquet_files(
                os.path.join(store._vdir("landing", v), b))
            assert len(files) == 1, (v, b, files)
    assert len(_written_buckets(store, "landing", v1)) == N_BUCKETS
    assert len(store._parquet_files(store._cdir("landing", v2))) == 1
    assert store.compact(spark, "landing") == v2

    store.create("master", schemas.SUPPLIER)
    vm = store.commit("master", store.read(spark, "landing"))
    assert len(store._parquet_files(store._vdir("master", vm))) == 1
    assert store.read(spark, "master").count() == 66
    assert store.compact(spark, "master") == vm


def test_merge_on_table_bucketed_outside_key_falls_back(spark, tmp_path):
    """A table bucketed on a NON-key column must not take the pruned
    path: a source row whose bucket column changed would miss its match
    (it lives in an un-probed bucket) and re-insert as a duplicate. The
    merge detects bucket_cols ⊄ key and falls back to the full read."""
    store = TableStore(str(tmp_path))
    store.create("t", schemas.SUPPLIER, bucket_by=(["supplier_state"], 4))
    merge_upsert(store, spark, "t", _supplier_rows(spark, range(8)), KEY, CMP)
    # S3 moves state: its OLD row's bucket is not a source-key bucket
    delta = _supplier_rows(spark, [3]).withColumn(
        "supplier_state", F.lit("moved"))
    merge_upsert(store, spark, "t", delta, KEY, CMP)
    rows = store.read(spark, "t").collect()
    assert len(rows) == 8  # no duplicate S3
    states = {r["supplier_code"]: r["supplier_state"] for r in rows}
    assert states["S3"] == "moved"


def test_commit_append_is_segment_based(spark, tmp_path):
    """commit_append writes ONLY the new rows (O(appended bytes), never
    a table rewrite): the new version dir holds just the appended
    segment, the snapshot is the segment union, time travel resolves
    per-commit segment lists, and vacuum keeps old dirs the latest
    snapshot still references."""
    store = TableStore(str(tmp_path))
    store.create("t", schemas.SUPPLIER)
    v0 = store.commit("t", _supplier_rows(spark, range(4)))
    v1 = store.commit_append("t", _supplier_rows(spark, range(4, 6)))

    assert store.read(spark, "t").count() == 6
    assert store.read(spark, "t", version=v0).count() == 4
    # on disk, v1 holds only the appended rows
    assert spark.read.parquet(store._vdir("t", v1)).count() == 2

    # vacuum must NOT reclaim v0 — the latest snapshot references it
    assert store.vacuum("t", keep_last=1) == []
    assert store.read(spark, "t").count() == 6

    # a full-snapshot commit resets the segment list; old dirs reclaimable
    store.commit("t", _supplier_rows(spark, range(3)))
    removed = store.vacuum("t", keep_last=1)
    assert set(removed) == {v0, v1}
    assert store.read(spark, "t").count() == 3


def test_time_travel_to_vacuumed_version_raises(spark, tmp_path):
    """ADVICE coverage (store.py read): after vacuum prunes a version's
    history entry, time travel to it must raise KeyError — the old
    fallback read segs=[version], silently returning ONLY that commit's
    appended segment as if it were the full snapshot."""
    import pytest
    store = TableStore(str(tmp_path))
    store.create("t", schemas.SUPPLIER)
    store.commit("t", _supplier_rows(spark, range(4)))
    v1 = store.commit_append("t", _supplier_rows(spark, range(4, 6)))
    store.commit("t", _supplier_rows(spark, range(3)))  # full rewrite
    store.vacuum("t", keep_last=1)                      # prunes v0+v1 history
    with pytest.raises(KeyError, match="segment list"):
        store.read(spark, "t", version=v1)
    assert store.read(spark, "t").count() == 3  # latest unharmed


def test_commit_accepts_nested_nullability_drift(spark, tmp_path):
    """ADVICE coverage (store.py _check_schema): nullability is advisory
    at EVERY nesting level — a commit whose array column differs only in
    containsNull must not be rejected as schema drift."""
    emb = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding",
                      T.ArrayType(T.DoubleType(), containsNull=True)),
    ])
    store = TableStore(str(tmp_path))
    store.create("e", emb)
    rows = [(0, [1.0, 2.0]), (1, [3.0, 4.0])]
    tight = spark.createDataFrame(rows, T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding",
                      T.ArrayType(T.DoubleType(), containsNull=False)),
    ]))
    assert tight.schema["embedding"].dataType.containsNull is False
    store.commit("e", tight)
    assert store.read(spark, "e").count() == 2
    # genuinely different element types are still rejected
    import pytest
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="declared schema"):
        store.commit("e", df.withColumn(
            "embedding", F.col("embedding").cast("array<string>")))


def test_commit_append_rejects_bucketed(spark, tmp_path):
    import pytest
    store = TableStore(str(tmp_path))
    store.create("t", schemas.SUPPLIER, bucket_by=(KEY, 4))
    with pytest.raises(ValueError, match="bucketed"):
        store.commit_append("t", _supplier_rows(spark, range(2)))


def test_commit_validates_declared_schema(spark, tmp_path):
    """Neither commit path may drift the declared schema: a DataFrame
    with extra/renamed/retyped columns is rejected (plain AND bucketed),
    instead of the schema silently following the DataFrame (plain) or
    the new column silently reading back null (bucketed)."""
    import pytest
    store = TableStore(str(tmp_path))
    store.create("plain", schemas.SUPPLIER)
    store.create("bucketed", schemas.SUPPLIER, bucket_by=(KEY, 4))
    good = _supplier_rows(spark, range(2))
    bad = good.withColumn("extra", F.lit(1))
    for t in ("plain", "bucketed"):
        store.commit(t, good)
        with pytest.raises(ValueError, match="declared schema"):
            store.commit(t, bad)
        with pytest.raises(ValueError, match="declared schema"):
            store.commit(t, good.withColumnRenamed("supplier_name", "sname"))
        assert store.read(spark, t).count() == 2  # table unharmed


def test_time_travel_and_vacuum(spark, tmp_path):
    """read(version=) on a bucketed table reconstructs the bucket map as
    of that commit; vacuum() drops dirs no kept version references while
    old buckets referenced by the LATEST pointer survive."""
    store = TableStore(str(tmp_path))
    store.create("t", schemas.SUPPLIER, bucket_by=(KEY, 4))
    merge_upsert(store, spark, "t", _supplier_rows(spark, range(16)), KEY, CMP)
    v1 = store.version("t")
    delta = _supplier_rows(spark, [5]).withColumn(
        "supplier_name", F.lit("renamed"))
    merge_upsert(store, spark, "t", delta, KEY, CMP)

    # time travel: v1 still shows the original name
    old = {r["supplier_code"]: r["supplier_name"]
           for r in store.read(spark, "t", version=v1).collect()}
    assert old["S5"] == "name5"
    new = {r["supplier_code"]: r["supplier_name"]
           for r in store.read(spark, "t").collect()}
    assert new["S5"] == "renamed"
    assert len(old) == len(new) == 16

    # vacuum keep_last=1: v1's dir must SURVIVE (latest still points at
    # its untouched buckets); history older than the last commit is gone
    removed = store.vacuum("t", keep_last=1)
    assert removed == []
    assert {tuple(r) for r in
            store.read(spark, "t").select(*schemas.SUPPLIER.fieldNames()).collect()} \
        == {tuple(r) for r in spark.createDataFrame(
            [r for r in _supplier_rows(spark, range(16)).collect()
             if r["supplier_code"] != "S5"]
            + [r for r in delta.collect()], schemas.SUPPLIER)
            .select(*schemas.SUPPLIER.fieldNames()).collect()}

    # full rewrite orphans every old dir; vacuum now reclaims them
    merge_upsert(store, spark, "t", _supplier_rows(spark, range(16)), KEY, CMP)
    import os
    before = sorted(d for d in os.listdir(store._tdir("t")) if d.startswith("v"))
    removed = store.vacuum("t", keep_last=1)
    after = sorted(d for d in os.listdir(store._tdir("t")) if d.startswith("v"))
    assert removed and len(after) < len(before)
    assert store.read(spark, "t").count() == 16


def test_compact_plain_merges_segments_without_cdc(spark, tmp_path):
    """compact() on an append-built plain table: one segment after, same
    contents, file count reduced, NO change batch emitted, and time
    travel to the pre-compaction version still works."""
    store = TableStore(str(tmp_path))
    store.create("raw", schemas.SUPPLIER)
    store.commit("raw", _supplier_rows(spark, range(4)))
    for batch in (range(4, 8), range(8, 12)):
        store.commit_append("raw", _supplier_rows(spark, batch))
    v_before = store.version("raw")
    meta = store._read_meta("raw")
    assert len(meta["segments"]) == 3
    files_before = sum(
        len(store._parquet_files(store._vdir("raw", s)))
        for s in meta["segments"])
    changes_before = store.change_versions("raw", -1)

    v = store.compact(spark, "raw")
    assert v == v_before + 1
    meta = store._read_meta("raw")
    assert meta["segments"] == [v]
    assert len(store._parquet_files(store._vdir("raw", v))) < files_before
    # contents identical; compaction invisible to the CDC stream
    assert sorted(r["supplier_key"] for r in store.read(spark, "raw").collect()) \
        == list(range(12))
    assert store.change_versions("raw", -1) == changes_before
    # pre-compaction snapshot still time-travels through its segment list
    assert store.read(spark, "raw", version=v_before).count() == 12
    # idempotent: nothing left to compact → no empty commit
    assert store.compact(spark, "raw") == v


def test_compact_bucketed_rewrites_only_fragmented_buckets(spark, tmp_path):
    """Bucketed compact(): buckets fragmented past max_files_per_bucket
    are rewritten in one commit; healthy buckets keep their pointers."""
    store = TableStore(str(tmp_path))
    store.create("landing", schemas.SUPPLIER, bucket_by=(KEY, N_BUCKETS))
    merge_upsert(store, spark, "landing", _supplier_rows(spark, range(64)),
                 KEY, CMP)

    # fragment ONE bucket: repeated single-key merges rewrite its dir
    # each time with however many files the writer emits; force the
    # fragmentation by dropping max_files_per_bucket below that count.
    for i in range(3):
        delta = _supplier_rows(spark, [7]).withColumn(
            "supplier_name", F.lit(f"rename{i}"))
        merge_upsert(store, spark, "landing", delta, KEY, CMP)
    meta = store._read_meta("landing")
    frag_bucket = spark.createDataFrame([("S7",)], ["supplier_code"]) \
        .select(bucket_id(KEY, N_BUCKETS).alias("b")).head()["b"]
    pointers_before = dict(meta["buckets"])

    v = store.compact(spark, "landing", max_files_per_bucket=0)
    meta = store._read_meta("landing")
    # every bucket with >0 files was rewritten to the new version,
    # and the fragmented bucket is among them with exactly one file
    assert meta["buckets"][str(frag_bucket)] == v
    p = os.path.join(store._vdir("landing", v), f"_bucket={frag_bucket}")
    assert len(store._parquet_files(p)) == 1
    # contents unchanged
    got = {r["supplier_code"]: r["supplier_name"]
           for r in store.read(spark, "landing").collect()}
    assert got["S7"] == "rename2" and len(got) == 64

    # healthy-threshold call: nothing fragmented → no-op, pointers frozen
    pointers_after = dict(store._read_meta("landing")["buckets"])
    assert store.compact(spark, "landing", max_files_per_bucket=4) == v
    assert dict(store._read_meta("landing")["buckets"]) == pointers_after
    assert pointers_after != pointers_before


def test_delete_where_plain_cdc_and_time_travel(spark):
    import tempfile
    from slowly_changing_dimensions_data_engineering_spark.operators.merge import delete_where

    store = TableStore(tempfile.mkdtemp())
    store.create("t", schemas.SUPPLIER)
    merge_upsert(store, spark, "t", _supplier_rows(spark, range(10)), KEY, CMP)
    v0 = store.version("t")

    v = delete_where(store, spark, "t", "supplier_key % 3 = 0", KEY)
    assert v == v0 + 1
    kept = sorted(r["supplier_key"] for r in store.read(spark, "t").collect())
    assert kept == [k for k in range(10) if k % 3 != 0]
    # CDC: one DELETE row per removed image, ISUPDATE=false
    ch = store.read_changes(spark, "t", v0)
    assert ch.count() == 4
    rows = ch.collect()
    assert all(r["METADATA$ACTION"] == "DELETE"
               and r["METADATA$ISUPDATE"] is False for r in rows)
    # pre-delete snapshot still readable
    assert store.read(spark, "t", version=v0).count() == 10
    # no-match predicate → no-op, no empty commit or change batch
    assert delete_where(store, spark, "t", "supplier_key = 999", KEY) == v
    assert store.change_versions("t", v) == []


def test_delete_where_null_predicate_rows_are_kept(spark):
    import tempfile
    from slowly_changing_dimensions_data_engineering_spark.operators.merge import delete_where

    store = TableStore(tempfile.mkdtemp())
    store.create("t", schemas.SUPPLIER)
    rows = spark.createDataFrame(
        [Row(supplier_key=1, supplier_code="S1", supplier_name=None,
             supplier_state="X"),
         Row(supplier_key=2, supplier_code="S2", supplier_name="drop",
             supplier_state="X")], schemas.SUPPLIER)
    merge_upsert(store, spark, "t", rows, KEY, CMP)
    delete_where(store, spark, "t", "supplier_name = 'drop'", KEY)
    # S1's NULL name makes the predicate NULL — SQL DELETE keeps it
    assert [r["supplier_code"] for r in store.read(spark, "t").collect()] == ["S1"]


def test_delete_where_bucketed_rewrites_only_matching_buckets(spark):
    import tempfile
    from slowly_changing_dimensions_data_engineering_spark.operators.merge import delete_where

    store = TableStore(tempfile.mkdtemp())
    store.create("t", schemas.SUPPLIER, bucket_by=(KEY, N_BUCKETS))
    merge_upsert(store, spark, "t", _supplier_rows(spark, range(64)), KEY, CMP)
    pointers_before = dict(store._read_meta("t")["buckets"])

    # delete exactly one key → exactly one bucket dir in the new version
    v = delete_where(store, spark, "t", "supplier_code = 'S7'", KEY)
    assert _written_buckets(store, "t", v) == [
        f"_bucket={spark.createDataFrame([('S7',)], ['supplier_code']).select(bucket_id(KEY, N_BUCKETS).alias('b')).head()['b']}"]
    after = store._read_meta("t")["buckets"]
    moved = [k for k in after if after[k] != pointers_before[k]]
    assert len(moved) == 1
    assert store.read(spark, "t").count() == 63


def test_add_column_null_fills_old_segments(spark, tmp_path):
    """ALTER TABLE ADD COLUMN: no rewrite — old parquet segments read
    back with the new column NULL; the next commit must carry it; the
    old schema is now rejected; time travel keeps the current schema."""
    import pytest

    store = TableStore(str(tmp_path))
    store.create("t", schemas.SUPPLIER)
    store.commit("t", _supplier_rows(spark, range(4)))
    v0 = store.version("t")
    files_before = store._parquet_files(store._vdir("t", v0))

    store.add_column("t", T.StructField("tier", T.StringType(), True))
    got = store.read(spark, "t")
    assert got.schema["tier"].dataType == T.StringType()
    assert got.filter("tier IS NULL").count() == 4
    assert store._parquet_files(store._vdir("t", v0)) == files_before

    # old-schema commits rejected; new-schema appends work
    with pytest.raises(ValueError):
        store.commit_append("t", _supplier_rows(spark, [9]))
    store.commit_append(
        "t", _supplier_rows(spark, [9]).withColumn("tier", F.lit("gold")))
    assert store.read(spark, "t").filter("tier = 'gold'").count() == 1
    assert store.read(spark, "t", version=v0).columns[-1] == "tier"

    # duplicate / non-nullable adds rejected
    with pytest.raises(ValueError):
        store.add_column("t", T.StructField("tier", T.StringType(), True))
    with pytest.raises(ValueError):
        store.add_column("t", T.StructField("req", T.LongType(), False))


def test_timestamp_time_travel(spark, tmp_path):
    import time

    import pytest

    store = TableStore(str(tmp_path))
    store.create("t", schemas.SUPPLIER)
    t_before = time.time()
    store.commit("t", _supplier_rows(spark, range(4)))
    time.sleep(0.05)
    t_mid = time.time()
    time.sleep(0.05)
    store.commit_append("t", _supplier_rows(spark, range(4, 8)))

    assert store.read(spark, "t", as_of=t_mid).count() == 4
    assert store.read(spark, "t", as_of=time.time()).count() == 8
    with pytest.raises(KeyError):
        store.version_at("t", t_before)
    with pytest.raises(ValueError):
        store.read(spark, "t", version=0, as_of=t_mid)


def test_drop_and_rename(spark, tmp_path):
    import pytest

    store = TableStore(str(tmp_path))
    store.create("a", schemas.SUPPLIER)
    store.commit("a", _supplier_rows(spark, range(4)))
    store.rename("a", "b")
    assert store.show_tables() == ["b"]
    assert store.read(spark, "b").count() == 4
    # renaming onto an existing table is rejected
    store.create("c", schemas.SUPPLIER)
    with pytest.raises(ValueError):
        store.rename("b", "c")
    store.drop("c")
    store.drop("b")
    assert store.show_tables() == []
    with pytest.raises(KeyError):
        store.drop("b")


def test_clone_zero_copy_diverges_independently(spark, tmp_path):
    """CREATE TABLE CLONE: snapshot of the source's current state, zero
    bytes copied (hard links), fresh stream state, and writes to either
    side never affect the other — including vacuum on the source."""
    import os as _os

    store = TableStore(str(tmp_path))
    store.create("src", schemas.SUPPLIER)
    store.commit("src", _supplier_rows(spark, range(6)))
    store.commit_append("src", _supplier_rows(spark, range(6, 9)))

    store.clone("src", "dup")
    assert store.read(spark, "dup").count() == 9
    # zero-copy: every clone file is a hard link (inode shared)
    src_inodes = {_os.stat(f).st_ino
                  for s in store._read_meta("src")["segments"]
                  for f in store._parquet_files(store._vdir("src", s))}
    dup_files = store._parquet_files(store._vdir("dup", 0))
    assert dup_files and all(_os.stat(f).st_ino in src_inodes
                             for f in dup_files)
    # streams are not cloned
    assert store.change_versions("dup", -1) == []

    # divergence: writes to one side are invisible to the other
    merge_upsert(store, spark, "dup", _supplier_rows(spark, [99]), KEY, CMP)
    store.commit_append("src", _supplier_rows(spark, range(9, 11)))
    assert store.read(spark, "dup").count() == 10
    assert store.read(spark, "src").count() == 11
    # vacuuming the source leaves the clone readable (refcounted links)
    store.commit("src", _supplier_rows(spark, range(3)))
    store.vacuum("src", keep_last=1)
    assert store.read(spark, "dup").count() == 10


def test_clone_bucketed_keeps_pruned_merges(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.create("src", schemas.SUPPLIER, bucket_by=(KEY, N_BUCKETS))
    merge_upsert(store, spark, "src", _supplier_rows(spark, range(32)), KEY, CMP)
    store.clone("src", "dup")
    assert store.read(spark, "dup").count() == 32
    # the clone stays a first-class bucketed table: a single-key merge
    # rewrites one bucket of the CLONE, source untouched
    delta = _supplier_rows(spark, [5]).withColumn("supplier_name", F.lit("x"))
    v = merge_upsert(store, spark, "dup", delta, KEY, CMP)
    assert len(_written_buckets(store, "dup", v)) == 1
    assert {r["supplier_name"] for r in
            store.read(spark, "src").filter("supplier_code = 'S5'").collect()} \
        == {"name5"}


def test_add_column_on_bucketed_table_with_pruned_merge(spark, tmp_path):
    """Schema evolution composes with the pruned-merge path: after ADD
    COLUMN, a single-key merge rewrites one bucket in the NEW schema
    while untouched buckets keep old-schema files — reads null-fill
    those through the declared schema."""
    store = TableStore(str(tmp_path))
    store.create("t", schemas.SUPPLIER, bucket_by=(KEY, N_BUCKETS))
    merge_upsert(store, spark, "t", _supplier_rows(spark, range(16)), KEY, CMP)
    store.add_column("t", T.StructField("tier", T.StringType(), True))

    # NOTE the reference's null-sensitive change guard (edge case 3): a
    # delta differing ONLY in the new column is a NO-OP (NULL != 'gold'
    # is NULL → no update), so a post-ALTER backfill must also touch a
    # non-null compare column or use a dedicated rewrite.
    delta = (_supplier_rows(spark, [3])
             .withColumn("supplier_name", F.lit("renamed"))
             .withColumn("tier", F.lit("gold")))
    v = merge_upsert(store, spark, "t", delta, KEY,
                     CMP + ["tier"])
    assert len(_written_buckets(store, "t", v)) == 1
    got = {r["supplier_code"]: r["tier"]
           for r in store.read(spark, "t").collect()}
    assert got["S3"] == "gold"
    assert len(got) == 16 and all(v is None for k, v in got.items() if k != "S3")


def test_register_views_sql_facade(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.create("sup", schemas.SUPPLIER)
    store.commit("sup", _supplier_rows(spark, range(6)))
    assert "sup" in store.register_views(spark)
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM sup WHERE supplier_key % 2 = 0").head()["n"]
    assert n == 3
    # views pin the registration-time snapshot
    store.commit_append("sup", _supplier_rows(spark, [100]))
    assert spark.sql("SELECT COUNT(*) AS n FROM sup").head()["n"] == 6
    store.register_views(spark, ["sup"])
    assert spark.sql("SELECT COUNT(*) AS n FROM sup").head()["n"] == 7


def test_history_df_tracks_commits_and_vacuum(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.create("t", schemas.SUPPLIER)
    merge_upsert(store, spark, "t", _supplier_rows(spark, range(4)), KEY, CMP)
    store.commit_append("t", _supplier_rows(spark, range(4, 6)))
    h = store.history_df(spark, "t").orderBy("version").collect()
    assert [r["version"] for r in h] == [0, 1]
    assert h[0]["has_changes"] is True        # merge attached a CDC batch
    assert h[1]["has_changes"] is False       # bare append did not
    assert h[0]["commit_ts"] <= h[1]["commit_ts"]
    assert h[1]["n_segments"] == 2 and h[1]["n_buckets"] is None

    # vacuum prunes history rows exactly when time travel stops working
    store.commit("t", _supplier_rows(spark, range(2)))
    store.vacuum("t", keep_last=1)
    left = [r["version"] for r in store.history_df(spark, "t").collect()]
    assert left == [2]


def test_vacuum_changes_respects_consumer_offset(spark, tmp_path):
    """Change-feed retention: batches at or below the consumed offset
    are reclaimed; unread batches survive and the consumer resumes
    exactly where it left off. Snapshots and time travel untouched."""
    store = TableStore(str(tmp_path))
    store.create("t", schemas.SUPPLIER)
    merge_upsert(store, spark, "t", _supplier_rows(spark, range(4)), KEY, CMP)
    merge_upsert(store, spark, "t",
                 _supplier_rows(spark, [1]).withColumn(
                     "supplier_name", F.lit("x")), KEY, CMP)
    store.set_offset("c1", store.version("t"))  # c1 consumed everything
    merge_upsert(store, spark, "t",
                 _supplier_rows(spark, [2]).withColumn(
                     "supplier_name", F.lit("y")), KEY, CMP)

    removed = store.vacuum_changes("t", store.get_offset("c1"))
    assert len(removed) == 2
    # the unread batch is intact and is exactly what c1 reads next
    remaining = store.read_changes(spark, "t", store.get_offset("c1"))
    assert remaining.count() == 2  # S2's DELETE+INSERT pair
    assert {r["supplier_code"] for r in remaining.collect()} == {"S2"}
    # snapshots unaffected
    assert store.read(spark, "t").count() == 4
    # idempotent
    assert store.vacuum_changes("t", store.get_offset("c1")) == []


def test_orphan_version_dir_from_crash_is_cleared(spark, tmp_path):
    """Crash recovery: a writer that died AFTER writing v{N+1} files but
    BEFORE the pointer swap leaves an orphan dir the pointer never
    referenced. The next commit must clear it and succeed (not wedge on
    errorifexists), readers meanwhile never saw the orphan."""
    import os

    store = TableStore(str(tmp_path))
    store.create("t", schemas.SUPPLIER)
    merge_upsert(store, spark, "t", _supplier_rows(spark, range(4)), KEY, CMP)
    v = store.version("t")

    # simulate the dead writer's half-commit at v+1
    orphan = store._vdir("t", v + 1)
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    assert store.read(spark, "t").count() == 4  # reader: pointer rules

    merge_upsert(store, spark, "t",
                 _supplier_rows(spark, [99]), KEY, CMP)
    assert store.version("t") == v + 1
    got = {r["supplier_key"] for r in store.read(spark, "t").collect()}
    assert got == {0, 1, 2, 3, 99}
    # the junk file is gone — the orphan dir was cleared, not merged
    files = store._parquet_files(store._vdir("t", v + 1))
    assert files and all("junk" not in f for f in files)


def test_restore_is_metadata_only_rollback(spark, tmp_path):
    """RESTORE TO VERSION: contents equal the restored version, zero
    parquet written (pure pointer move), post-restore history remains
    readable, vacuum keeps the restored files live, and a restore whose
    target metadata was pruned raises."""
    import pytest

    store = TableStore(str(tmp_path))
    store.create("t", schemas.SUPPLIER)
    merge_upsert(store, spark, "t", _supplier_rows(spark, range(5)), KEY, CMP)   # v0
    merge_upsert(store, spark, "t",
                 _supplier_rows(spark, [1]).withColumn(
                     "supplier_name", F.lit("renamed")), KEY, CMP)               # v1
    store.commit_append("t", _supplier_rows(spark, [100]))                       # v2
    n_files_before = sum(len(store._parquet_files(store._vdir("t", v)))
                         for v in (0, 1, 2))

    v3 = store.restore("t", 0)
    assert v3 == 3
    got = {(r["supplier_key"], r["supplier_name"])
           for r in store.read(spark, "t").collect()}
    assert got == {(k, f"name{k}") for k in range(5)}          # exactly v0
    # metadata-only: no new parquet anywhere, no v3 data dir
    import os
    n_files_after = sum(len(store._parquet_files(store._vdir("t", v)))
                        for v in (0, 1, 2))
    assert n_files_after == n_files_before
    assert not os.path.exists(store._vdir("t", 3))
    # pre-restore history still time-travels
    assert store.read(spark, "t", version=2).count() == 6

    # vacuum to the restored head: current read still works (liveness
    # follows the new pointer, so v0's segment survives)
    store.vacuum("t", keep_last=1)
    assert store.read(spark, "t").count() == 5
    with pytest.raises(KeyError):
        store.restore("t", 1)   # pruned metadata -> loud failure


def test_restore_bucketed_repoints_bucket_map(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.create("t", schemas.SUPPLIER, bucket_by=(KEY, 4))
    merge_upsert(store, spark, "t", _supplier_rows(spark, range(8)), KEY, CMP)   # v0
    merge_upsert(store, spark, "t",
                 _supplier_rows(spark, [3]).withColumn(
                     "supplier_name", F.lit("changed")), KEY, CMP)               # v1
    v2 = store.restore("t", 0)
    assert v2 == 2
    assert store._read_meta("t")["buckets"] == {str(k): 0 for k in range(4)}
    got = {r["supplier_name"] for r in store.read(spark, "t").collect()}
    assert got == {f"name{k}" for k in range(8)}
    # pruned single-bucket reads resolve through the restored map
    b3 = spark.createDataFrame([("S3",)], ["supplier_code"]) \
        .select(bucket_id(KEY, 4).alias("b")).head()["b"]
    assert store.read_buckets(spark, "t", [b3]) \
        .filter("supplier_code = 'S3'").head()["supplier_name"] == "name3"
