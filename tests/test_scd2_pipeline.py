"""Golden end-to-end SCD2 replay — the reference's own two-load scenario.

Fixtures are the reference's ``suppliers.csv`` / ``suppliers_v2.csv``
(reproduced from FIXTURES.md §A.4/A.5); expected states are the golden
outputs embedded in ``SCD-Configuration Setup.sql``:
- stream after load 1: 6 INSERT/ISUPDATE=false rows   (Setup.sql:130-138)
- stream after load 2: 2 inserts + 2 update pairs     (Setup.sql:220-229)
- staging after load 2: 10 rows, 8 'Y' + 2 closed 'N' (Setup.sql:253-266)
- master after load 2: the 8 current rows             (Setup.sql:272-275)

Timestamps are asserted structurally (per-load constancy; closed row's
end_date == successor's start_date), not literally — per FIXTURES.md §A.6.
"""

from __future__ import annotations

import datetime as dt

import pytest

from slowly_changing_dimensions_data_engineering_spark.pipeline import (
    LANDING, MASTER, STAGING, SupplierPipeline,
)

LOAD1 = """1,A101,Virat Kohli,Delhi
2,A102,MS Dhoni,Ranchi
3,A103,Pujara,Gujarat
4,A104,Bumrah,Mumbai
5,A105,Rohit Sharma,Hyderabad
6,A106,Dravid,Karnataka
"""

LOAD2 = """5,A105,Rohit Sharma,Tamilnadu
6,A106,Dravid,Tamilnadu
7,A107,Pujara,Saurasthra
8,A108,Hanuma Vihari,Andhra Pradesh
"""

T1 = dt.datetime(2024, 3, 26, 23, 41, 54)
T2 = dt.datetime(2024, 3, 27, 0, 5, 43)


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("scd2_store"))
    p = SupplierPipeline(spark, root)
    p.setup()
    return p


def _write_load(tmp_path_factory, name, body):
    f = tmp_path_factory.mktemp("loads") / name
    f.write_text(body)
    return str(f)


def test_load1_golden(pipe, spark, tmp_path_factory):
    pipe.stage.put(_write_load(tmp_path_factory, "suppliers.csv", LOAD1))

    # run tasks stepwise so we can inspect the stream before it's consumed
    pipe.task1_truncate_raw()
    pipe.task2_copy_into_raw(purge=True)
    assert pipe.stage.list() == []  # PURGE=TRUE (Setup.sql:92)
    pipe.task3_merge_landing()

    landing = pipe.store.read(spark, LANDING)
    assert landing.count() == 6

    # golden stream after load 1 (Setup.sql:130-138)
    stream = pipe.store.read_changes(spark, LANDING, since=-1).collect()
    assert len(stream) == 6
    assert all(r["METADATA$ACTION"] == "INSERT" for r in stream)
    assert all(r["METADATA$ISUPDATE"] is False for r in stream)

    pipe.task4_scd2_merge(now=T1)
    pipe.task5_refresh_master()

    staging = pipe.store.read(spark, STAGING).collect()
    assert len(staging) == 6
    assert all(r["current_flag"] == "Y" and r["end_date"] is None for r in staging)
    assert len({r["start_date"] for r in staging}) == 1  # F1 constancy
    assert pipe.store.read(spark, MASTER).count() == 6


def test_load2_golden(pipe, spark, tmp_path_factory):
    pipe.stage.put(_write_load(tmp_path_factory, "suppliers_v2.csv", LOAD2))
    offset_before = pipe.store.get_offset("scd2")

    pipe.task1_truncate_raw()
    pipe.task2_copy_into_raw(purge=False)  # PURGE=FALSE on load 2 (Setup.sql:185)
    assert len(pipe.stage.list()) == 1
    pipe.task3_merge_landing()

    # golden stream after load 2 (Setup.sql:220-229): 6 rows —
    # 2 pure inserts, 2 update post-images, 2 update pre-images
    stream = pipe.store.read_changes(spark, LANDING, since=offset_before)
    rows = {(r["METADATA$ACTION"], r["METADATA$ISUPDATE"], r["supplier_code"],
             r["supplier_state"]) for r in stream.collect()}
    assert rows == {
        ("INSERT", False, "A107", "Saurasthra"),
        ("INSERT", False, "A108", "Andhra Pradesh"),
        ("INSERT", True, "A105", "Tamilnadu"),
        ("INSERT", True, "A106", "Tamilnadu"),
        ("DELETE", True, "A105", "Hyderabad"),
        ("DELETE", True, "A106", "Karnataka"),
    }
    # an update's pre/post rows share one METADATA$ROW_ID (Setup.sql:224-227)
    ids = stream.filter("`METADATA$ISUPDATE`").select("supplier_code", "METADATA$ROW_ID").collect()
    by_code = {}
    for r in ids:
        by_code.setdefault(r["supplier_code"], set()).add(r["METADATA$ROW_ID"])
    assert all(len(v) == 1 for v in by_code.values())

    pipe.task4_scd2_merge(now=T2)
    pipe.task5_refresh_master()

    # golden staging (Setup.sql:253-266): 10 rows, 8 current + 2 closed
    staging = pipe.store.read(spark, STAGING).collect()
    assert len(staging) == 10
    cur = [r for r in staging if r["current_flag"] == "Y"]
    closed = [r for r in staging if r["current_flag"] == "N"]
    assert len(cur) == 8 and len(closed) == 2
    assert {(r["supplier_code"], r["supplier_state"]) for r in closed} == {
        ("A105", "Hyderabad"), ("A106", "Karnataka"),
    }
    # structural timestamp invariants (FIXTURES.md §A.6)
    assert all(r["end_date"] == T2 for r in closed)
    new_rows = [r for r in cur if r["supplier_state"] in ("Tamilnadu", "Saurasthra", "Andhra Pradesh")]
    assert all(r["start_date"] == T2 for r in new_rows)
    old_cur = [r for r in cur if r not in new_rows]
    assert all(r["start_date"] == T1 and r["end_date"] is None for r in old_cur)

    # master = 8 current rows projected to the 4 base columns
    master = pipe.store.read(spark, MASTER)
    assert master.count() == 8
    assert master.columns == ["supplier_key", "supplier_code", "supplier_name", "supplier_state"]


def test_rerun_same_load_is_noop(pipe, spark):
    """J3 idempotence: re-merging an identical load produces no updates,
    no CDC noise, and no new SCD2 versions (write avoidance, SURVEY §4)."""
    staging_before = pipe.store.read(spark, STAGING).count()
    offset_before = pipe.store.get_offset("scd2")

    # stage still holds suppliers_v2.csv (load 2 used PURGE=FALSE)
    pipe.run_cycle(now=dt.datetime(2024, 3, 27, 1, 0, 0), purge=True)

    stream = pipe.store.read_changes(spark, LANDING, since=offset_before)
    assert stream is None or stream.count() == 0
    assert pipe.store.read(spark, STAGING).count() == staging_before
    assert pipe.store.read(spark, MASTER).count() == 8


def test_no_delete_propagation(pipe, spark):
    """Edge case 5: suppliers absent from the latest load remain current
    forever (the reference MERGE never deletes)."""
    master = pipe.store.read(spark, MASTER)
    # A101-A104 were absent from load 2 yet still present
    codes = {r["supplier_code"] for r in master.collect()}
    assert {"A101", "A102", "A103", "A104"} <= codes


def test_stream_consume_once_survives_offset_mirror_loss(spark, tmp_path):
    """C3 crash-atomicity (r13 fix): the consumer watermark rides the
    staging commit's atomic meta swap, so losing/rewinding the global
    offset MIRROR file (the crash window VERDICT r12 flagged) can no
    longer replay the batch — task4 sees nothing pending and staging is
    bit-stable, matching Snowflake's "stream data once used is GONE"
    (SCD-Automation.sql:142). A forced replay of the same batch through
    scd2_merge directly is still flag-idempotent (Snowflake's
    unconditional matched-UPDATE re-stamps end_date), pinning that the
    merge semantics themselves did not change."""
    import datetime as dt
    from slowly_changing_dimensions_data_engineering_spark.operators.scd2 import scd2_merge
    from slowly_changing_dimensions_data_engineering_spark.pipeline import (
        LANDING, SCD2_KEY, STAGING, SupplierPipeline,
    )

    p = SupplierPipeline(spark, str(tmp_path))
    p.setup()
    p.stage.put("/root/reference/suppliers.csv")
    p.run_cycle(now=dt.datetime(2024, 1, 1))
    offset_after_1 = p.store.get_offset("scd2")
    p.stage.put("/root/reference/suppliers_v2.csv")
    p.run_cycle(now=dt.datetime(2024, 2, 1))

    before = sorted(
        (r["supplier_code"], r["supplier_state"], r["current_flag"],
         r["start_date"], r["end_date"])
        for r in p.store.read(spark, STAGING).collect())

    # crash scenario: the global mirror rewinds to load 1 (as if the
    # post-commit set_offset never ran) — the meta-carried watermark
    # must keep the batch consumed.
    p.store.set_offset("scd2", offset_after_1)
    v_before = p.store.version(STAGING)
    p.task4_scd2_merge(now=dt.datetime(2024, 3, 1))
    assert p.store.version(STAGING) == v_before  # no commit: nothing pending
    after = sorted(
        (r["supplier_code"], r["supplier_state"], r["current_flag"],
         r["start_date"], r["end_date"])
        for r in p.store.read(spark, STAGING).collect())
    assert after == before

    # Forced replay (explicitly re-feeding the consumed batch): the
    # merge itself stays flag-idempotent — multiset of
    # (key, flag, start) stable, closed rows re-stamped.
    batch = p.store.read_changes(spark, LANDING, since=offset_after_1)
    replay_now = dt.datetime(2024, 3, 1)
    scd2_merge(p.store, spark, STAGING, batch, SCD2_KEY, replay_now)
    rows = p.store.read(spark, STAGING).collect()
    assert {(r["supplier_code"], r["supplier_state"], r["current_flag"],
             r["start_date"]) for r in rows} \
        == {(c, s, f, sd) for c, s, f, sd, _ in before}
    assert len(rows) == 10
    closed = [r for r in rows if r["current_flag"] == "N"]
    assert len(closed) == 2
    assert all(r["end_date"] == replay_now for r in closed)


def test_flagship_composed_with_compact_zorder_vacuum_and_reader(spark, tmp_path):
    """Feature-intersection integration (r4 VERDICT ask #8): the golden
    two-load replay with the maintenance surface composed INTO the
    pipeline — after load 1 the bucketed STAGING is compacted and
    vacuumed and the plain MASTER is Z-ORDER-compacted; a snapshot
    reader pinned on the maintained staging then stays isolated while
    load 2 commits; the final states must still be the reference
    goldens. Every feature exists and passes alone
    (test_zorder/test_bucketed_store); this pins their composition."""
    import os

    p = SupplierPipeline(spark, str(tmp_path))
    p.setup()
    p.stage.put(_write_load_dir(tmp_path, "suppliers.csv", LOAD1))
    p.run_cycle(now=T1)

    staging_before = {(r["supplier_code"], r["supplier_state"],
                       r["current_flag"], r["start_date"])
                      for r in p.store.read(spark, STAGING).collect()}

    # --- maintenance window between the loads ---------------------------
    v_compact = p.store.compact(spark, STAGING, max_files_per_bucket=0)
    assert v_compact == p.store.version(STAGING)
    # every non-empty bucket now holds exactly one file
    meta = p.store._read_meta(STAGING)
    for k, bv in meta["buckets"].items():
        bdir = os.path.join(p.store._vdir(STAGING, bv), f"_bucket={k}")
        if os.path.isdir(bdir):
            assert len(p.store._parquet_files(bdir)) == 1
    # Z-ORDER the BUCKETED staging itself (per-bucket Morton sort) and
    # the plain master (range-clustered rewrite) — both compact paths
    p.store.compact(spark, STAGING, cluster_by=["supplier_key"])
    p.store.compact(spark, MASTER, cluster_by=["supplier_key"])
    removed = p.store.vacuum(STAGING, keep_last=1) + p.store.vacuum(MASTER, keep_last=1)
    assert removed  # pre-maintenance versions actually pruned
    # maintenance is data-neutral: contents and CDC stream untouched
    staging_mid = {(r["supplier_code"], r["supplier_state"],
                    r["current_flag"], r["start_date"])
                   for r in p.store.read(spark, STAGING).collect()}
    assert staging_mid == staging_before
    assert p.store.change_versions(STAGING, -1) == []  # no phantom CDC

    # --- concurrent reader pinned on the maintained snapshot ------------
    reader = p.store.read(spark, STAGING)

    p.stage.put(_write_load_dir(tmp_path, "suppliers_v2.csv", LOAD2))
    p.run_cycle(now=T2)

    # reader still sees the load-1 world (pointer-swap isolation held
    # through compact + vacuum + the load-2 pruned merge)
    pinned = {(r["supplier_code"], r["supplier_state"],
               r["current_flag"], r["start_date"]) for r in reader.collect()}
    assert pinned == staging_before
    assert reader.count() == 6

    # final goldens unchanged by the maintenance composition
    staging = p.store.read(spark, STAGING).collect()
    assert len(staging) == 10
    cur = [r for r in staging if r["current_flag"] == "Y"]
    closed = [r for r in staging if r["current_flag"] == "N"]
    assert len(cur) == 8 and len(closed) == 2
    assert {(r["supplier_code"], r["supplier_state"]) for r in closed} == {
        ("A105", "Hyderabad"), ("A106", "Karnataka")}
    assert all(r["end_date"] == T2 for r in closed)
    master = p.store.read(spark, MASTER)
    assert master.count() == 8

    # Z-ORDER the rebuilt master again post-load-2: contents invariant
    before = {tuple(r) for r in master.collect()}
    p.store.compact(spark, MASTER, cluster_by=["supplier_key"])
    assert {tuple(r) for r in p.store.read(spark, MASTER).collect()} == before


def _write_load_dir(tmp_path, name, body):
    f = tmp_path / name
    f.write_text(body)
    return str(f)


def test_true_delete_closes_scd2_version_permanently(spark, tmp_path):
    """End-of-life integration: a delete_where on the landing table
    emits a TRUE removal (ISUPDATE=false); consuming that stream closes
    the SCD2 version (end_date set, flag N) with NO reopened row — the
    entity's history simply ends, unlike an update's close+open pair."""
    import datetime as dt

    from pyspark.sql import Row

    from slowly_changing_dimensions_data_engineering_spark import schemas
    from slowly_changing_dimensions_data_engineering_spark.operators.merge import (
        delete_where, merge_upsert,
    )
    from slowly_changing_dimensions_data_engineering_spark.operators.scd2 import (
        scd2_merge,
    )
    from slowly_changing_dimensions_data_engineering_spark.store import TableStore

    key, scd2_key = ["supplier_code"], ["supplier_code", "supplier_state"]
    cmp_cols = ["supplier_state", "supplier_name", "supplier_key"]
    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)

    store = TableStore(str(tmp_path))
    store.create("landing", schemas.SUPPLIER)
    store.create("staging", schemas.SUPPLIER_STAGING)
    rows = [Row(supplier_key=k, supplier_code=f"S{k}", supplier_name=f"n{k}",
                supplier_state="CA") for k in (1, 2)]
    merge_upsert(store, spark, "landing",
                 spark.createDataFrame(rows, schemas.SUPPLIER), key, cmp_cols)
    scd2_merge(store, spark, "staging",
               store.read_changes(spark, "landing", -1), scd2_key, t1)
    off = store.version("landing")

    delete_where(store, spark, "landing", "supplier_code = 'S1'", key)
    scd2_merge(store, spark, "staging",
               store.read_changes(spark, "landing", off), scd2_key, t2)

    hist = {(r["supplier_code"], r["current_flag"], r["end_date"] is None)
            for r in store.read(spark, "staging").collect()}
    # S1: one closed row, never reopened; S2 untouched and current
    assert hist == {("S1", "N", False), ("S2", "Y", True)}
    assert store.read(spark, "staging").count() == 2


def test_scd3_prev_value_three_load_replay(spark, tmp_path):
    """SCD Type-3 (operators/merge.py::scd3_upsert) over three loads:
    load 2 sets prev from the prior current value, load 3 OVERWRITES
    prev for a re-changed key, an untracked-column-only change leaves
    prev untouched, a NULL comparand is a no-op (the J3 null-sensitive
    rule), and the reference's no-delete-propagation holds."""
    from pyspark.sql import Row, types as T

    from slowly_changing_dimensions_data_engineering_spark import schemas
    from slowly_changing_dimensions_data_engineering_spark.operators.merge import scd3_upsert
    from slowly_changing_dimensions_data_engineering_spark.store import TableStore

    key, cmp_cols = ["supplier_code"], ["supplier_state", "supplier_name",
                                        "supplier_key"]
    track = {"supplier_state": "prev_supplier_state"}
    schema = T.StructType(list(schemas.SUPPLIER.fields)
                          + [T.StructField("prev_supplier_state",
                                           T.StringType())])
    store = TableStore(str(tmp_path))
    store.create("dim", schema, bucket_by=(key, 4))

    def load(rows):
        return spark.createDataFrame(
            [Row(supplier_key=k, supplier_code=c, supplier_name=n,
                 supplier_state=s) for k, c, n, s in rows], schemas.SUPPLIER)

    def dim():
        return {r["supplier_code"]:
                (r["supplier_state"], r["prev_supplier_state"],
                 r["supplier_name"])
                for r in store.read(spark, "dim").collect()}

    # load 1: pure inserts, prev NULL everywhere
    scd3_upsert(store, spark, "dim",
                load([(1, "A1", "n1", "CA"), (2, "A2", "n2", "NY"),
                      (3, "A3", "n3", "TX")]), key, cmp_cols, track)
    assert dim() == {"A1": ("CA", None, "n1"), "A2": ("NY", None, "n2"),
                     "A3": ("TX", None, "n3")}

    # load 2: A1 state change (prev set), A2 name-only change (prev
    # stays NULL), A3 absent (no delete propagation), A4 insert
    scd3_upsert(store, spark, "dim",
                load([(1, "A1", "n1", "WA"), (2, "A2", "n2b", "NY"),
                      (4, "A4", "n4", "OR")]), key, cmp_cols, track)
    assert dim() == {"A1": ("WA", "CA", "n1"), "A2": ("NY", None, "n2b"),
                     "A3": ("TX", None, "n3"), "A4": ("OR", None, "n4")}

    # load 3: A1 changes again — prev OVERWRITES (Type-3 keeps exactly
    # one prior value); A4 NULL state comparand → J3 no-op, prev kept
    scd3_upsert(store, spark, "dim",
                load([(1, "A1", "n1", "AZ"), (4, "A4", "n4", None)]),
                key, cmp_cols, track)
    assert dim() == {"A1": ("AZ", "WA", "n1"), "A2": ("NY", None, "n2b"),
                     "A3": ("TX", None, "n3"), "A4": ("OR", None, "n4")}

    # CDC of load 3: one update pair for A1 only (the no-op emitted
    # nothing), pre-image carries the pre-load prev column
    ch = store.read_changes(spark, "dim", store.version("dim") - 1)
    rows = {(r["METADATA$ACTION"], r["METADATA$ISUPDATE"],
             r["supplier_code"], r["supplier_state"],
             r["prev_supplier_state"]) for r in ch.collect()}
    assert rows == {("DELETE", True, "A1", "WA", "CA"),
                    ("INSERT", True, "A1", "AZ", "WA")}

    # bucketed pruning: the load-3 commit rewrote only A1/A4's buckets
    meta = store._read_meta("dim")
    v = meta["latest"]
    assert len([b for b, bv in meta["buckets"].items() if bv == v]) <= 2


def test_scd0_fixed_attributes_append_only(spark, tmp_path):
    """SCD Type-0 (operators/merge.py::scd0_insert): matched keys are
    IMMUTABLE — a changed state in load 2 is ignored entirely; only
    never-seen keys insert. Storage contract: on a plain table each
    load commits ONLY its insert segment (commit_append), never a
    rewrite of the existing snapshot."""
    from pyspark.sql import Row

    from slowly_changing_dimensions_data_engineering_spark import schemas
    from slowly_changing_dimensions_data_engineering_spark.operators.merge import scd0_insert
    from slowly_changing_dimensions_data_engineering_spark.store import TableStore

    store = TableStore(str(tmp_path))
    store.create("dim", schemas.SUPPLIER)

    def load(rows):
        return spark.createDataFrame(
            [Row(supplier_key=k, supplier_code=c, supplier_name=n,
                 supplier_state=s) for k, c, n, s in rows], schemas.SUPPLIER)

    def dim():
        return {r["supplier_code"]: r["supplier_state"]
                for r in store.read(spark, "dim").collect()}

    scd0_insert(store, spark, "dim",
                load([(1, "A1", "n1", "CA"), (2, "A2", "n2", "NY")]),
                ["supplier_code"])
    assert dim() == {"A1": "CA", "A2": "NY"}

    # load 2: A1 state change IGNORED (fixed attribute), A3 inserts
    v = scd0_insert(store, spark, "dim",
                    load([(1, "A1", "n1", "WA"), (3, "A3", "n3", "TX")]),
                    ["supplier_code"])
    assert dim() == {"A1": "CA", "A2": "NY", "A3": "TX"}

    # CDC: only the insert, never an update pair
    ch = store.read_changes(spark, "dim", v - 1)
    rows = {(r["METADATA$ACTION"], r["METADATA$ISUPDATE"],
             r["supplier_code"]) for r in ch.collect()}
    assert rows == {("INSERT", False, "A3")}

    # append-only storage: the load-2 version dir holds ONLY the new
    # segment and the snapshot's segment list references both commits
    meta = store._read_meta("dim")
    assert meta["segments"] == [0, 1]

    # replaying load 2 is a no-op: nothing new to insert -> the commit
    # appends an empty segment and contents are unchanged
    scd0_insert(store, spark, "dim",
                load([(1, "A1", "n1", "WA"), (3, "A3", "n3", "TX")]),
                ["supplier_code"])
    assert dim() == {"A1": "CA", "A2": "NY", "A3": "TX"}


def test_merge_schema_evolution_two_load_golden(spark, tmp_path):
    """merge_upsert(..., evolve_schema=True) two-load replay where load
    2 ADDS a column: the declared schema widens metadata-only, load-1
    history null-fills on read (current AND time-travel reads), the CDC
    batch carries the widened schema, bucket pruning still holds, and
    the J3 rule governs the new column (a matched row differing ONLY in
    the new column does not update)."""
    from pyspark.sql import Row, functions as F

    from slowly_changing_dimensions_data_engineering_spark import schemas
    from slowly_changing_dimensions_data_engineering_spark.operators.merge import merge_upsert
    from slowly_changing_dimensions_data_engineering_spark.store import TableStore

    store = TableStore(str(tmp_path))
    store.create("landing", schemas.SUPPLIER,
                 bucket_by=(["supplier_code"], 4))
    key, cmp_cols = ["supplier_code"], ["supplier_state"]

    def load1(rows):
        return spark.createDataFrame(
            [Row(supplier_key=k, supplier_code=c, supplier_name=n,
                 supplier_state=s) for k, c, n, s in rows], schemas.SUPPLIER)

    merge_upsert(store, spark, "landing",
                 load1([(1, "A1", "n1", "CA"), (2, "A2", "n2", "NY"),
                        (3, "A3", "n3", "TX")]), key, cmp_cols)
    v1 = store.version("landing")

    # load 2 adds supplier_phone: A1 state change (update -> phone
    # lands), A2 unchanged except phone (J3: NULL != x -> no update,
    # phone does NOT land), A4 insert (phone lands)
    load2 = spark.createDataFrame(
        [Row(supplier_key=1, supplier_code="A1", supplier_name="n1",
             supplier_state="WA", supplier_phone="555-1"),
         Row(supplier_key=2, supplier_code="A2", supplier_name="n2",
             supplier_state="NY", supplier_phone="555-2"),
         Row(supplier_key=4, supplier_code="A4", supplier_name="n4",
             supplier_state="OR", supplier_phone="555-4")],
        "supplier_key long, supplier_code string, supplier_name string, "
        "supplier_state string, supplier_phone string")
    merge_upsert(store, spark, "landing", load2, key,
                 cmp_cols + ["supplier_phone"], evolve_schema=True)

    assert store.schema("landing").fieldNames() == [
        "supplier_key", "supplier_code", "supplier_name",
        "supplier_state", "supplier_phone"]
    got = {r["supplier_code"]: (r["supplier_state"], r["supplier_phone"])
           for r in store.read(spark, "landing").collect()}
    assert got == {"A1": ("WA", "555-1"),
                   "A2": ("NY", None),   # J3: new-column-only diff = no-op
                   "A3": ("TX", None),   # untouched history, null-filled
                   "A4": ("OR", "555-4")}

    # CDC batch of load 2 carries the widened schema
    ch = store.read_changes(spark, "landing", store.version("landing") - 1)
    assert "supplier_phone" in ch.columns
    rows = {(r["METADATA$ACTION"], r["METADATA$ISUPDATE"],
             r["supplier_code"], r["supplier_phone"]) for r in ch.collect()}
    assert rows == {("DELETE", True, "A1", None),
                    ("INSERT", True, "A1", "555-1"),
                    ("INSERT", False, "A4", "555-4")}

    # time travel to the pre-evolution version reads the CURRENT
    # declared schema with the column NULL (lakehouse convention)
    old = store.read(spark, "landing", version=v1)
    assert "supplier_phone" in old.columns
    assert old.filter(F.col("supplier_phone").isNull()).count() == 3

    # replaying load 2 is a no-op for A2: phone is now compared against
    # a target NULL again (it never landed) -> J3 keeps it a no-op; A1
    # and A4 match byte-identically -> no update either
    v = store.version("landing")
    merge_upsert(store, spark, "landing", load2, key,
                 cmp_cols + ["supplier_phone"], evolve_schema=True)
    ch2 = store.read_changes(spark, "landing", v)
    assert ch2 is None or ch2.count() == 0


def test_read_changes_keeps_columns_added_by_schema_evolution(spark, tmp_path):
    """A stream read spanning an ADD COLUMN returns the declared change
    schema: the batch committed before the evolution reads the new
    column as NULL and the later batch keeps its values, whichever
    batch's footer a reader would have inferred the schema from."""
    from pyspark.sql import Row

    from slowly_changing_dimensions_data_engineering_spark import schemas
    from slowly_changing_dimensions_data_engineering_spark.operators.merge import merge_upsert
    from slowly_changing_dimensions_data_engineering_spark.store import TableStore

    store = TableStore(str(tmp_path))
    store.create("landing", schemas.SUPPLIER,
                 bucket_by=(["supplier_code"], 4))
    key, cmp_cols = ["supplier_code"], ["supplier_state"]
    merge_upsert(store, spark, "landing", spark.createDataFrame(
        [Row(supplier_key=1, supplier_code="A1", supplier_name="n1",
             supplier_state="CA"),
         Row(supplier_key=2, supplier_code="A2", supplier_name="n2",
             supplier_state="NY")], schemas.SUPPLIER), key, cmp_cols)
    load2 = spark.createDataFrame(
        [Row(supplier_key=1, supplier_code="A1", supplier_name="n1",
             supplier_state="WA", supplier_phone="555-1"),
         Row(supplier_key=3, supplier_code="A3", supplier_name="n3",
             supplier_state="OR", supplier_phone="555-3")],
        "supplier_key long, supplier_code string, supplier_name string, "
        "supplier_state string, supplier_phone string")
    merge_upsert(store, spark, "landing", load2, key,
                 cmp_cols + ["supplier_phone"], evolve_schema=True)

    ch = store.read_changes(spark, "landing", since=-1)
    assert "supplier_phone" in ch.columns
    rows = {(r["METADATA$ACTION"], r["METADATA$ISUPDATE"],
             r["supplier_code"], r["supplier_phone"]) for r in ch.collect()}
    assert rows == {("INSERT", False, "A1", None),
                    ("INSERT", False, "A2", None),
                    ("DELETE", True, "A1", None),
                    ("INSERT", True, "A1", "555-1"),
                    ("INSERT", False, "A3", "555-3")}


def test_evolve_schema_concurrent_same_name_different_type_raises(
        spark, tmp_path, monkeypatch):
    """ADVICE r15 (low): a column that appears between the evolve pass's
    schema read and its add_column — i.e. a concurrent writer won the
    evolution race — is adopted silently ONLY when its type matches the
    source field's. A same-name/different-type race must fail here with
    the concurrent-evolution context, not later as an opaque commit
    schema-check error; and the silently-adopted column must not be
    reported as added by THIS call."""
    from pyspark.sql import types as T

    from slowly_changing_dimensions_data_engineering_spark import schemas
    from slowly_changing_dimensions_data_engineering_spark.operators.merge import evolve_schema_for
    from slowly_changing_dimensions_data_engineering_spark.store import TableStore

    src_schema = T.StructType(
        list(schemas.SUPPLIER.fields)
        + [T.StructField("supplier_phone", T.StringType(), True)])
    src = spark.createDataFrame([], src_schema)
    orig = TableStore.add_column

    def inject_winner(winner_type):
        fired = []

        def racing_add(self, name, field):
            if not fired:
                fired.append(1)  # winner lands INSIDE the race window
                orig(self, name,
                     T.StructField(field.name, winner_type, True))
            return orig(self, name, field)  # loser: already-exists

        monkeypatch.setattr(TableStore, "add_column", racing_add)

    # winner added the same name with a DIFFERENT type → loud failure
    store = TableStore(str(tmp_path / "a"))
    store.create("dim", schemas.SUPPLIER)
    inject_winner(T.LongType())
    with pytest.raises(ValueError, match="concurrent schema evolution"):
        evolve_schema_for(store, "dim", src)

    # winner added the SAME type → adopted silently, NOT claimed as added
    store2 = TableStore(str(tmp_path / "b"))
    store2.create("dim", schemas.SUPPLIER)
    inject_winner(T.StringType())
    assert evolve_schema_for(store2, "dim", src) == []

    # no race: a genuinely-new column is still reported as added
    monkeypatch.setattr(TableStore, "add_column", orig)
    src2 = spark.createDataFrame([], T.StructType(
        list(src_schema.fields)
        + [T.StructField("supplier_fax", T.StringType(), True)]))
    assert evolve_schema_for(store2, "dim", src2) == ["supplier_fax"]


def test_idle_tick_commits_nothing(spark, tmp_path):
    """A tick with nothing staged — the common case under the
    reference's 1-minute schedule — commits no empty LANDING or STAGING
    version and attaches no empty change batch."""
    p = SupplierPipeline(spark, str(tmp_path / "store"))
    p.setup()
    p.stage.put(_write_load_dir(tmp_path, "two.csv", LOAD1[:LOAD1.index("3,")]))
    p.run_cycle(now=T1)
    before = (p.store.version(LANDING), p.store.version(STAGING),
              p.store.change_versions(LANDING, -1))
    master = sorted(tuple(r) for r in p.store.read(spark, MASTER).collect())
    assert len(master) == 2

    p.run_cycle(now=T2)
    assert (p.store.version(LANDING), p.store.version(STAGING),
            p.store.change_versions(LANDING, -1)) == before
    assert sorted(tuple(r) for r in
                  p.store.read(spark, MASTER).collect()) == master


def test_failed_cycle_lands_in_task_history(spark, tmp_path, monkeypatch):
    """A task that raises is recorded as a FAILED run naming the task
    and its error (TASK_HISTORY, Automation:116,147), the error still
    propagates, and the next tick runs normally."""
    p = SupplierPipeline(spark, str(tmp_path / "store"))
    p.setup()

    def boom():
        raise RuntimeError("landing merge failed")

    monkeypatch.setattr(p, "task3_merge_landing", boom)
    with pytest.raises(RuntimeError):
        p.run_cycle(now=T1)
    failed = p.task_history()[0]
    assert failed["state"] == "FAILED"
    assert failed["task"] == "task3_merge_landing"
    assert failed["error"] == "RuntimeError: landing merge failed"

    monkeypatch.undo()
    p.run_cycle(now=T2)
    hist = p.task_history()
    assert [r["state"] for r in hist] == ["SUCCEEDED", "FAILED"]
