"""Incremental materialized-aggregate maintenance from the CDC stream.

The 100 TB contract: a refresh must read only the pending change
batches plus the MV itself — never the base table. Assertions cover
batch-at-a-time equivalence with a full recompute (inserts, updates
that move rows between groups, group disappearance), consume-once
offsets, and a plan check that the refreshed MV's scan inputs are the
``_changes`` dirs, not the base snapshot.
"""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from slowly_changing_dimensions_data_engineering_spark import schemas
from slowly_changing_dimensions_data_engineering_spark.operators.incremental import (
    aggregate_delta, apply_delta, refresh_aggregate)
from slowly_changing_dimensions_data_engineering_spark.operators.merge import merge_upsert
from slowly_changing_dimensions_data_engineering_spark.store import TableStore

KEY = ["supplier_code"]
CMP = ["supplier_state", "supplier_name", "supplier_key"]
GROUP = ["supplier_state"]
SUMS = {"sum_key": "supplier_key"}


def _rows(spark, spec):
    """spec: iterable of (key, state)."""
    return spark.createDataFrame(
        [Row(supplier_key=k, supplier_code=f"S{k}", supplier_name=f"name{k}",
             supplier_state=st) for k, st in spec],
        schemas.SUPPLIER)


def _mv(store, spark):
    return {r["supplier_state"]: (r["n_rows"], r["sum_key"])
            for r in store.read(spark, "mv").collect()}


def _expected(store, spark):
    return {r["supplier_state"]: (r["n"], r["s"])
            for r in store.read(spark, "base")
            .groupBy("supplier_state")
            .agg(F.count("*").alias("n"), F.sum("supplier_key").alias("s"))
            .collect()}


def test_concurrent_first_refreshes_never_destroy_committed_mv(
        spark, tmp_path, monkeypatch):
    """ADVICE r16 (medium): two concurrent FIRST refreshes both pass the
    exists() check; the loser's create must NOT be a CREATE OR REPLACE
    that rmtree's the winner's already-committed v0 (and its
    meta-carried consumer offsets) outside any lock. With
    overwrite=False the loser keeps the winner's table, its commit
    fails read_version=-1 validation, and the _occ_retry re-read finds
    nothing pending — a clean as-if-serial no-op."""
    store = TableStore(str(tmp_path))
    store.create("base", schemas.SUPPLIER)
    merge_upsert(store, spark, "base",
                 _rows(spark, [(1, "CA"), (2, "NY")]), KEY, CMP)

    real_create = TableStore.create
    fired = {"done": False}

    def racing_create(self, name, schema, overwrite=True, **kw):
        if name == "mv" and not fired["done"]:
            fired["done"] = True
            # Competitor completes the ENTIRE first refresh inside the
            # victim's exists()→create window.
            refresh_aggregate(TableStore(str(tmp_path)), spark,
                              "mv", "base", "mv", GROUP, SUMS)
        return real_create(self, name, schema, overwrite=overwrite, **kw)

    monkeypatch.setattr(TableStore, "create", racing_create)
    v = refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
    monkeypatch.undo()

    # winner's commit survives, loser converged on it, nothing doubled
    assert v == 0 and store.version("mv") == 0
    assert _mv(store, spark) == _expected(store, spark)


def test_refresh_tracks_base_batch_by_batch(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.create("base", schemas.SUPPLIER)

    # batch 1: pure inserts across two groups
    merge_upsert(store, spark, "base",
                 _rows(spark, [(1, "CA"), (2, "CA"), (3, "NY")]), KEY, CMP)
    refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
    assert _mv(store, spark) == _expected(store, spark) \
        == {"CA": (2, 3), "NY": (1, 3)}

    # batch 2: update moves S3 NY→CA (NY vanishes), S2 re-keyed in place,
    # S4 inserted into a new group
    merge_upsert(store, spark, "base",
                 _rows(spark, [(3, "CA"), (2, "CA"), (4, "TX")]), KEY, CMP)
    refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
    exp = _expected(store, spark)
    assert _mv(store, spark) == exp
    assert "NY" not in exp  # zero-count group dropped, not kept as 0

    # batch 3: no-op load (same values) → merge emits no effective change
    # rows beyond noops; MV must stay equal to the recompute
    merge_upsert(store, spark, "base",
                 _rows(spark, [(3, "CA"), (4, "TX")]), KEY, CMP)
    refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
    assert _mv(store, spark) == _expected(store, spark)


def test_refresh_is_consume_once_and_noop_safe(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.create("base", schemas.SUPPLIER)
    merge_upsert(store, spark, "base",
                 _rows(spark, [(1, "CA"), (2, "NY")]), KEY, CMP)
    v1 = refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
    # nothing pending → no empty commit, offset untouched
    assert refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS) == v1
    assert store.version("mv") == v1
    before = _mv(store, spark)
    # a second INDEPENDENT consumer folds the same stream from scratch
    v2 = refresh_aggregate(store, spark, "mv2", "base", "other", GROUP, SUMS)
    assert v2 >= 0
    assert {r["supplier_state"]: (r["n_rows"], r["sum_key"])
            for r in store.read(spark, "mv2").collect()} == before


def test_refresh_plan_never_scans_base(spark, tmp_path):
    """The refreshed-MV plan's parquet inputs are the change batches and
    the MV snapshot only — the base table's version dirs must not appear
    (that absence IS the 100 TB win: refresh cost is delta + MV)."""
    store = TableStore(str(tmp_path))
    store.create("base", schemas.SUPPLIER)
    merge_upsert(store, spark, "base",
                 _rows(spark, [(1, "CA"), (2, "NY")]), KEY, CMP)
    refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
    merge_upsert(store, spark, "base", _rows(spark, [(3, "CA")]), KEY, CMP)

    changes = store.read_changes(spark, "base", store.get_offset("mv"))
    delta = aggregate_delta(changes, GROUP, SUMS)
    new = apply_delta(store.read(spark, "mv"), delta, GROUP)
    plan = new._sc._jvm.PythonSQLUtils.explainString(
        new._jdf.queryExecution(), "formatted")
    assert "_changes" in plan
    base_dirs = [f"base/v{v}" for v in range(store.version("base") + 1)]
    assert not any(d in plan for d in base_dirs), plan


def test_dup_key_source_stream_sums_to_snapshot_delta(spark, tmp_path):
    """Regression: a duplicate-key source load matches one target row
    twice; pair-derived pre-images used to emit that row's DELETE twice,
    making the stream over-subtract vs the snapshot delta (caught by the
    sf0.01 S99 collision). The signed fold of the stream must equal the
    full recompute of the post-merge snapshot."""
    store = TableStore(str(tmp_path))
    store.create("base", schemas.SUPPLIER)
    merge_upsert(store, spark, "base",
                 _rows(spark, [(1, "CA"), (2, "NY")]), KEY, CMP)
    # S1 appears TWICE in the load with different states (nondeterministic
    # merge input — Snowflake errors; we keep both images + consistent CDC)
    dup = spark.createDataFrame(
        [Row(supplier_key=1, supplier_name="a", supplier_state="TX"),
         Row(supplier_key=1, supplier_name="b", supplier_state="WA")],
        "supplier_key long, supplier_name string, supplier_state string"
    ).withColumn("supplier_code", F.lit("S1")) \
     .select(*schemas.SUPPLIER.fieldNames())
    merge_upsert(store, spark, "base", dup, KEY, CMP)

    refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
    assert _mv(store, spark) == _expected(store, spark)
    # exactly ONE pre-image for the single physical target row
    ch = store.read_changes(spark, "base", 0)
    assert ch.filter("`METADATA$ACTION` = 'DELETE'").count() == 1
    assert ch.filter("`METADATA$ACTION` = 'INSERT'").count() == 2

    # A load that both tombstones and updates S1: update wins, so the
    # one physical row leaves as ONE pre-image paired with the INSERT
    # (not a pre-image plus a tombstone), on plain and bucketed targets.
    mixed = spark.createDataFrame(
        [Row(supplier_key=1, supplier_code="S1", supplier_name="DEL",
             supplier_state="CA"),
         Row(supplier_key=1, supplier_code="S1", supplier_name="a",
             supplier_state="TX")], schemas.SUPPLIER)
    for bucket_by in (None, (KEY, 4)):
        store = TableStore(str(tmp_path / f"mixed_{bucket_by is not None}"))
        store.create("base", schemas.SUPPLIER, bucket_by=bucket_by)
        merge_upsert(store, spark, "base", _rows(spark, [(1, "CA")]), KEY, CMP)
        refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
        merge_upsert(store, spark, "base", mixed, KEY, CMP,
                     delete_match="supplier_name = 'DEL'")
        assert [(r["supplier_code"], r["supplier_state"])
                for r in store.read(spark, "base").collect()] == [("S1", "TX")]
        ch = store.read_changes(spark, "base", 0)
        assert sorted((r["METADATA$ACTION"], r["METADATA$ISUPDATE"],
                       r["supplier_state"]) for r in ch.collect()) == [
            ("DELETE", True, "CA"), ("INSERT", True, "TX")]
        refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
        assert _mv(store, spark) == _expected(store, spark)


def test_refresh_tracks_deletes(spark, tmp_path):
    """delete_where emits ISUPDATE=false DELETE rows; the signed fold
    must subtract them exactly (including dropping an emptied group)."""
    from slowly_changing_dimensions_data_engineering_spark.operators.merge import delete_where

    store = TableStore(str(tmp_path))
    store.create("base", schemas.SUPPLIER)
    merge_upsert(store, spark, "base",
                 _rows(spark, [(1, "CA"), (2, "CA"), (3, "NY")]), KEY, CMP)
    refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
    delete_where(store, spark, "base", "supplier_state = 'NY'", KEY)
    delete_where(store, spark, "base", "supplier_key = 1", KEY)
    refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
    exp = _expected(store, spark)
    assert _mv(store, spark) == exp == {"CA": (1, 2)}


def test_merge_when_matched_delete_tombstones(spark, tmp_path):
    """MERGE ... WHEN MATCHED AND <cond> THEN DELETE: tombstone source
    rows remove their target row with an ISUPDATE=false DELETE change
    row; unmatched tombstones are no-ops; non-tombstone rows in the same
    load still update/insert; and the signed fold stays exact."""
    store = TableStore(str(tmp_path))
    store.create("base", schemas.SUPPLIER)
    merge_upsert(store, spark, "base",
                 _rows(spark, [(1, "CA"), (2, "NY"), (3, "NY")]), KEY, CMP)
    refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)

    # one load mixing: tombstone S2, update S3 NY->TX, insert S4,
    # unmatched tombstone S9 (no-op)
    load = _rows(spark, [(2, "NY"), (3, "TX"), (4, "CA"), (9, "WA")])
    merge_upsert(store, spark, "base", load, KEY, CMP,
                 delete_match="supplier_key IN (2, 9)")

    got = {r["supplier_code"]: r["supplier_state"]
           for r in store.read(spark, "base").collect()}
    assert got == {"S1": "CA", "S3": "TX", "S4": "CA"}
    ch = store.read_changes(spark, "base", 0)
    dels = ch.filter("`METADATA$ACTION` = 'DELETE'").collect()
    # S2's tombstone (ISUPDATE false) + S3's update pre-image (true)
    assert {(r["supplier_code"], r["METADATA$ISUPDATE"]) for r in dels} \
        == {("S2", False), ("S3", True)}

    refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
    assert _mv(store, spark) == _expected(store, spark) \
        == {"CA": (2, 5), "TX": (1, 3)}


def test_crash_between_commit_and_offset_mv_no_double_apply(spark, tmp_path):
    """C3 crash-atomicity (VERDICT r12 finding #1): the consumed-to
    watermark rides INSIDE the MV commit's atomic meta swap, so a crash
    between the commit and the post-commit global-mirror write must NOT
    replay the batch — a replayed signed delta would double-count into
    the already-refreshed MV."""
    import pytest

    store = TableStore(str(tmp_path))
    store.create("base", schemas.SUPPLIER)
    merge_upsert(store, spark, "base",
                 _rows(spark, [(1, "CA"), (2, "CA"), (3, "NY")]), KEY, CMP)
    refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)

    # new pending batch, then CRASH right after the MV commit: the
    # global-mirror set_offset never runs.
    merge_upsert(store, spark, "base",
                 _rows(spark, [(3, "CA"), (4, "TX")]), KEY, CMP)
    real_set = store.set_offset
    store.set_offset = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("simulated crash between commit and offset advance"))
    with pytest.raises(RuntimeError, match="simulated crash"):
        refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
    store.set_offset = real_set

    # The commit landed; the global offset file is stale (pre-batch) but
    # the meta-carried watermark already records consumption.
    assert store.get_offset("mv") < store.get_offset("mv", table="mv")
    v_after_crash = store.version("mv")
    mv_after_crash = _mv(store, spark)
    assert mv_after_crash == _expected(store, spark)  # batch applied once

    # Restart: the re-run must see nothing pending (no double-apply, no
    # empty commit) and the MV must equal the one-shot recompute.
    v = refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
    assert v == v_after_crash
    assert _mv(store, spark) == mv_after_crash == _expected(store, spark)
    # and the restart healed the global mirror for change retention
    refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
    assert store.version("mv") == v_after_crash


def test_get_offset_table_scope_ignores_global_mirror(spark, tmp_path):
    """Reusing one consumer NAME across two carrier tables must not let
    the shared global mirror (keyed by name alone) skip a table's
    pending batches: get_offset(consumer, table=) reads ONLY that
    carrier's meta-carried watermark."""
    store = TableStore(str(tmp_path))
    store.create("base", schemas.SUPPLIER)
    merge_upsert(store, spark, "base",
                 _rows(spark, [(1, "CA"), (2, "TX")]), KEY, CMP)
    refresh_aggregate(store, spark, "mv", "base", "mv", GROUP, SUMS)
    consumed = store.get_offset("mv", table="mv")
    assert consumed == store.version("base")

    # another pipeline (wrongly) reuses the name and advances the
    # global mirror far past this carrier's consumption
    store.set_offset("mv", 99)
    assert store.get_offset("mv", table="mv") == consumed  # unmoved
    # a fresh carrier with no consumption on record sees everything
    # as pending regardless of the mirror
    store.create("mv2", schemas.SUPPLIER)
    assert store.get_offset("mv", table="mv2") == -1
    # without table= the mirror IS the (retention-only) answer
    assert store.get_offset("mv") == 99


def test_crash_between_commit_and_offset_scd2_pipeline(spark, tmp_path):
    """The same drill for the SCD2 task chain (pipeline.task4): a crash
    after the staging merge commit but before the global offset mirror
    must not replay the stream batch — replay would re-stamp closed
    rows' end_date with the replay cycle's timestamp. Staging must be
    golden-equivalent to the uncrashed two-load run."""
    import datetime as dt

    import pytest

    from slowly_changing_dimensions_data_engineering_spark.pipeline import (
        STAGING, SupplierPipeline)

    p = SupplierPipeline(spark, str(tmp_path))
    p.setup()
    p.stage.put("/root/reference/suppliers.csv")
    p.run_cycle(now=dt.datetime(2024, 3, 26, 23, 41, 54))

    # load 2 with a crash inside task4's post-commit mirror write
    p.stage.put("/root/reference/suppliers_v2.csv")
    real_set = p.store.set_offset
    p.store.set_offset = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("simulated crash"))
    with pytest.raises(RuntimeError, match="simulated crash"):
        p.run_cycle(now=dt.datetime(2024, 3, 27, 0, 5, 43))
    p.store.set_offset = real_set

    golden = sorted(
        (r["supplier_code"], r["supplier_state"], r["current_flag"],
         r["start_date"], r["end_date"])
        for r in p.store.read(spark, STAGING).collect())
    assert len(golden) == 10  # Setup.sql:253-266 — 8 current + 2 closed

    # Restart cycle at a LATER timestamp: an offset replay would re-close
    # the two 'N' rows with this timestamp; the watermark must skip it.
    p.run_cycle(now=dt.datetime(2024, 3, 27, 9, 0, 0))
    again = sorted(
        (r["supplier_code"], r["supplier_state"], r["current_flag"],
         r["start_date"], r["end_date"])
        for r in p.store.read(spark, STAGING).collect())
    assert again == golden


def test_merge_tombstones_first_load_and_bucketed_pruning(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.create("b", schemas.SUPPLIER, bucket_by=(KEY, 8))
    # first load: tombstones drop out of the pure-insert fast path
    merge_upsert(store, spark, "b", _rows(spark, [(1, "CA"), (2, "NY")]),
                 KEY, CMP, delete_match="supplier_key = 2")
    assert [r["supplier_code"] for r in store.read(spark, "b").collect()] \
        == ["S1"]
    # bucketed incremental: a lone tombstone rewrites only its bucket
    merge_upsert(store, spark, "b", _rows(spark, [(1, "CA")]), KEY, CMP,
                 delete_match="supplier_key = 1")
    assert store.read(spark, "b").count() == 0
    meta = store._read_meta("b")
    v = meta["latest"]
    rewritten = [k for k, bv in meta["buckets"].items() if bv == v]
    assert len(rewritten) == 1
