"""M1 — MERGE upsert (snapshot → current state) with CDC emission.

Re-implements the RAW→LANDING merge of
``SCD-Configuration Setup.sql:99-119`` / ``SCD-Automation.sql:57-74``:

    MERGE INTO landing USING raw ON t.supplier_code = s.supplier_code
    WHEN MATCHED AND (t.state != s.state OR t.name != s.name
                      OR t.key != s.key)  THEN UPDATE SET ...
    WHEN NOT MATCHED THEN INSERT ...

plus the CDC stream the merge feeds (``CREATE STREAM`` at Setup.sql:58):
an update is emitted as a DELETE(pre-image) + INSERT(post-image) pair
with METADATA$ISUPDATE=true; a pure insert as one INSERT row with
ISUPDATE=false (encoding rule Setup.sql:231-232, goldens :130-138,
:220-229). Reproducing that pair encoding exactly is load-bearing for
the downstream SCD2 merge (SURVEY.md §2.1 edge case 1).

Semantics preserved deliberately (SURVEY.md edge cases 3, 5):
- **Null-sensitive change detection**: the ``!=`` predicates return NULL
  for NULL comparands → no update. We use plain ``!=``, not null-safe
  ``<=>`` negation, to match the reference.
- **No delete propagation**: rows absent from the source are kept
  untouched (the reference MERGE has no NOT-MATCHED-BY-SOURCE clause).

Physical strategy (100 TB notes): two joins, each evaluated once —
  source LEFT JOIN target   (``cat``: categorize each source row)
  target LEFT JOIN key tags (``tagged``: one tag per updated or
                             tombstoned key, ``_target_images``)
instead of a FULL OUTER join, because Spark can broadcast the small side
of left joins but a full-outer join forces sort-merge. Both frames are
stabilized, and every row a merge emits is a filter of one of them: new
images and inserts come from ``cat``; kept rows, update pre-images and
tombstone images from ``tagged``. So the snapshot write and the change
write read the target ONCE between them. For an incremental load
(source ≪ target) the tag frame is tiny and AQE broadcasts it; the only
large-data motion is the one target scan and its materialization, which
the commit's rewrite of the target snapshot pays anyway — the same cost
profile as a Delta MERGE that rewrites matched files.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import CDC_ACTION, CDC_ISUPDATE, CDC_ROW_ID
from ..session import stabilize


def _any_changed(cols: list[str], left: str, right: str):
    """J3 — OR of null-sensitive ``!=`` comparisons
    (Setup.sql:102-109)."""
    return reduce(
        lambda a, b: a | b,
        [F.col(f"{left}.{c}") != F.col(f"{right}.{c}") for c in cols],
    )


def _row_id(key: list[str], prefix: str | None = None):
    """METADATA$ROW_ID: stable per logical row — hash of the merge key
    (Snowflake's row id is opaque; a key hash preserves its contract:
    the DELETE+INSERT pair of one update shares one id, golden
    Setup.sql:224-227)."""
    return F.md5(F.concat_ws("\x1f", *[
        F.col(f"{prefix}.{k}" if prefix else k).cast("string") for k in key]))


def _target_images(target: DataFrame, cat: DataFrame,
                   key: list[str]) -> tuple[DataFrame, DataFrame]:
    """The target side of a merge in ONE pass: ``(kept, gone)`` — the
    target rows no update or delete touched, and the change rows that
    retire touched ones (an update's DELETE pre-image, ISUPDATE=true,
    or a tombstone's DELETE image, ISUPDATE=false). ``cat`` is the
    categorized source⋈target frame with an ``_op`` per source row.

    The ``update``/``delete`` source keys collapse to one tag per key,
    ``update`` winning, and the target is left-joined to the tags once
    and stabilized; ``kept`` and ``gone`` are filters of that frame, so
    the snapshot write and the change write share one target scan.

    Images come from the TARGET side, NOT from the source×target matched
    pairs: a duplicate-key source load matches one target row twice, and
    pair-derived pre-images would emit that row's DELETE twice — a
    change stream that no longer sums to the snapshot delta (a signed
    fold, e.g. an incremental MV, would over-subtract; caught by the
    sf0.01 S99 key collision in the synthetic load-2). One image per
    PHYSICAL target row keeps stream ≡ snapshot delta for both
    dup-source and dup-target edges. The per-key tag extends that rule
    to a load that both tombstones and updates one key: the key's new
    image is inserted, so the old row leaves as ONE update pre-image
    (update wins), never as a pre-image plus a tombstone. (Snowflake
    itself ERRORs on this nondeterministic merge; we keep all source
    images and a consistent stream instead.)

    The tag frame scales with the LOAD, not a constant — no
    unconditional broadcast hint (a 100× backfill would OOM the
    driver); AQE's dynamic join selection broadcasts it when it is in
    fact delta-sized."""
    tags = (cat.filter(F.col("_op").isin("update", "delete"))
            .groupBy(*[F.col(f"s.{k}").alias(k) for k in key])
            .agg(F.bool_or(F.col("_op") == "update").alias("_upd")))
    tagged = stabilize(target.join(tags, key, "left"))
    cols = target.columns
    kept = tagged.filter(F.col("_upd").isNull()).select(*cols)
    # ``<=>`` is never NULL, so ISUPDATE stays a non-nullable column like
    # the literal flags of the other change rows (same file schema).
    gone = (tagged.filter(F.col("_upd").isNotNull())
            .select(*cols, F.lit("DELETE").alias(CDC_ACTION),
                    F.col("_upd").eqNullSafe(True).alias(CDC_ISUPDATE),
                    _row_id(key).alias(CDC_ROW_ID)))
    return kept, gone


def plan_upsert(
    target: DataFrame,
    source: DataFrame,
    key: list[str],
    compare_cols: list[str],
    delete_match=None,
) -> tuple[DataFrame, DataFrame]:
    """Return ``(new_target, cdc_changes)`` as two lazy plans.

    ``new_target`` is the post-merge snapshot; ``cdc_changes`` carries the
    stream rows the merge generated (schema = target columns +
    METADATA$ACTION / METADATA$ISUPDATE / METADATA$ROW_ID).

    ``delete_match`` (SQL string or Column over SOURCE columns) adds the
    ``WHEN MATCHED AND <cond> THEN DELETE`` clause: a matched source row
    satisfying it is a TOMBSTONE — the target row is removed and a
    DELETE change row (ISUPDATE=false, a true removal) is emitted. An
    unmatched tombstone is a no-op (nothing to delete), the same way the
    reference MERGE has no effect for it. NULL conditions count as
    not-matching (SQL semantics, as in ``delete_where``).
    """
    cols = target.columns
    if delete_match is not None:
        pred = (F.expr(delete_match) if isinstance(delete_match, str)
                else delete_match)
        # evaluate on the raw source BEFORE aliasing: the predicate is
        # over source columns, and inside the join frame the names are
        # ambiguous between the s/t sides
        source = source.withColumn(
            "_del", F.coalesce(pred.cast("boolean"), F.lit(False)))
    else:
        source = source.withColumn("_del", F.lit(False))
    if source.columns != cols + ["_del"]:
        source = source.select(*cols, "_del")

    s = source.alias("s")
    t = target.alias("t")
    on = [F.col(f"s.{k}") == F.col(f"t.{k}") for k in key]

    # Categorize every source row in ONE pass: delete / update / insert /
    # no-op. The categorized frame feeds the CDC unions, the key tags,
    # and the new rows; stabilize() materializes the source⋈target
    # join once instead of re-scanning the big target per branch — the
    # same source-materialization step a Delta MERGE performs. The
    # strategy (executor-local blocks vs reliable checkpoint vs pure
    # lineage) is the spark.sds.stabilize.mode conf: on a large cluster
    # running a multi-hour merge, set "reliable" so a lost executor
    # cannot strand this truncated-lineage frame (session.py discussion).
    cat = stabilize(
        s.join(t.withColumn("_t_present", F.lit(True)), on, "left")
        .withColumn(
            "_op",
            F.when(F.col("_t_present").isNull() & F.col("s._del"), F.lit("skip"))
            .when(F.col("_t_present").isNull(), F.lit("insert"))
            .when(F.col("s._del"), F.lit("delete"))
            .when(_any_changed(compare_cols, "t", "s"), F.lit("update"))
            .otherwise(F.lit("noop")),
        )
    )
    s_cols = [F.col(f"s.{c}").alias(c) for c in cols]

    inserts = (
        cat.filter(F.col("_op") == "insert")
        .select(*s_cols, F.lit("INSERT").alias(CDC_ACTION),
                F.lit(False).alias(CDC_ISUPDATE), _row_id(key, "s").alias(CDC_ROW_ID))
    )
    upd_post = (
        cat.filter(F.col("_op") == "update")
        .select(*s_cols, F.lit("INSERT").alias(CDC_ACTION),
                F.lit(True).alias(CDC_ISUPDATE), _row_id(key, "s").alias(CDC_ROW_ID))
    )
    kept, gone = _target_images(target, cat, key)
    changes = inserts.unionByName(upd_post).unionByName(gone)

    # New snapshot: the target rows no update or delete touched, plus
    # the updated images and the inserts.
    new_rows = cat.filter(F.col("_op").isin("update", "insert")).select(*s_cols)
    new_target = kept.unionByName(new_rows)
    return new_target, changes


def touched_buckets(source: DataFrame, bucket_cols: list[str], n: int) -> list[int]:
    """Distinct key buckets the source load lands in — ≤ n values, so the
    collect is driver-safe at any data scale."""
    from ..store import bucket_id
    return [r[0] for r in
            source.select(bucket_id(bucket_cols, n).alias("_b")).distinct().collect()]


def evolve_schema_for(store, target_name: str, source: DataFrame) -> list[str]:
    """Merge-time schema evolution (Delta ``mergeSchema`` analogue):
    every source column absent from the target's declared schema is
    added via the store's metadata-only ``ALTER TABLE ADD COLUMN`` —
    no history rewrite; pre-evolution rows read back NULL for the new
    columns (store.add_column contract). Returns the added names.

    Only WIDENING is supported: a source column whose name exists with
    a different type still fails the commit's schema check (silent
    type coercion is accidental corruption at 100 TB), and source
    columns can only be added, never dropped — a source MISSING target
    columns keeps failing loudly too (the merge writes whole rows, so
    absent payload would null out history).

    Concurrent evolution of the same column is benign ONLY when the
    winner added it with the SAME type: ``add_column`` is serialized
    under the commit lock, and the loser's already-exists error is
    swallowed here exactly when the fresh declaration's type matches
    the source field's. A same-name/different-type race re-raises
    immediately with the concurrent-evolution context — letting it
    slide would mislabel the column as ``added`` and only surface
    later as an opaque commit schema-check failure."""
    from pyspark.sql import types as T

    from ..store import TableStore

    added = []
    declared = set(store.schema(target_name).fieldNames())
    for f in source.schema.fields:
        if f.name in declared:
            continue
        try:
            store.add_column(
                target_name, T.StructField(f.name, f.dataType, True))
        except ValueError:
            fresh = store.schema(target_name)
            if f.name not in fresh.fieldNames():
                raise
            have = TableStore._denull(fresh[f.name].dataType)
            want = TableStore._denull(f.dataType)
            if have != want:
                raise ValueError(
                    f"concurrent schema evolution conflict on "
                    f"{target_name!r}.{f.name}: another writer added it "
                    f"as {have.simpleString()} but this merge's source "
                    f"carries {want.simpleString()}") from None
            # The winner added exactly this column — adopt it silently,
            # but do NOT report it in ``added`` (this call added nothing).
            continue
        added.append(f.name)
    return added


def merge_upsert(store, spark, target_name: str, source: DataFrame,
                 key: list[str], compare_cols: list[str],
                 delete_match=None, occ_retries: int = 3,
                 evolve_schema: bool = False) -> int:
    """Execute M1 against the store: one atomic commit carrying both the
    new snapshot and the CDC batch (Snowflake per-statement txn).

    On a bucketed target (store.create(..., bucket_by=...)) the merge is
    PRUNED: only buckets containing source keys are read and rewritten —
    valid because the merge key contains the bucket columns, so every
    matched target row, every insert, AND every tombstoned row lands in
    a source-key bucket. Untouched buckets keep their existing files
    (Delta-merge file pruning; VERDICT r1 #4).

    ``delete_match`` forwards the WHEN MATCHED DELETE clause of
    ``plan_upsert`` — source rows satisfying it are tombstones.

    Concurrency: two merges into DISJOINT bucket sets interleave
    freely (the store rebases their pointer maps — no retry, no
    conflict). A true conflict (same bucket, or a full-table merge
    racing any commit) re-READS the new current state and re-derives
    the whole merge, up to ``occ_retries`` times — re-deriving against
    the winner's state is exactly the Delta/Snowflake retry semantics,
    and the merge result is then as if the two loads had been applied
    serially. The stabilized source is reused across attempts.

    ``evolve_schema=True`` first folds NEW source columns into the
    target's declared schema (``evolve_schema_for`` — metadata-only ADD
    COLUMN, history null-filled on read); the merge and its CDC batch
    then carry the widened schema. The J3 null-sensitive change guard
    applies unchanged: if a new column is in ``compare_cols``, a
    matched row differing ONLY there does NOT update (target reads
    NULL for it, and NULL != x is no-change by the reference's rule) —
    the widened value lands on rows another compare column touches, or
    via a backfill ``update_where``."""
    if evolve_schema:
        evolve_schema_for(store, target_name, source)
    # Evaluate the (delta-sized) source once; every consumer — bucket
    # probe, join, CDC branches, every retry — reuses the
    # materialization.
    source = store.stabilize(source)
    return _occ_retry(
        lambda: _merge_upsert_once(store, spark, target_name, source,
                                   key, compare_cols, delete_match),
        occ_retries, store, target_name)


def _merge_upsert_once(store, spark, target_name: str, source: DataFrame,
                       key: list[str], compare_cols: list[str],
                       delete_match=None) -> int:
    """One optimistic attempt of ``merge_upsert`` (source already
    stabilized): snapshot-read, derive, commit — raising
    ``ConcurrentCommitError`` from the store on a lost race.

    The validation baseline (``read_version``) is captured HERE, at
    snapshot-read time, and handed to the commit — capturing it at
    commit entry would leave the whole derivation (the categorize
    join, bucket probe, CDC branches — table-sized Spark jobs) as an
    unvalidated window in which a concurrent commit is silently lost
    to last-writer-wins."""
    read_version = store.version(target_name)
    if read_version < 0:
        # First load into an empty table: every surviving row is an
        # insert — skip the categorize join entirely (pure append; same
        # fast path a Delta MERGE takes when there are no matched
        # files). Tombstones match nothing and drop out.
        cols = store.schema(target_name).fieldNames()
        src = source
        if delete_match is not None:
            pred = (F.expr(delete_match) if isinstance(delete_match, str)
                    else delete_match)
            src = src.filter(~F.coalesce(pred.cast("boolean"), F.lit(False)))
        src = src.select(*cols)
        changes = src.select(
            *cols, F.lit("INSERT").alias(CDC_ACTION),
            F.lit(False).alias(CDC_ISUPDATE), _row_id(key).alias(CDC_ROW_ID))
        # "The table was empty" is itself a snapshot observation — two
        # racing first loads must not both land (the loser re-derives
        # through the retry wrapper into the matched path).
        return store.commit(target_name, src, changes=changes,
                            read_version=-1)
    spec = store.bucket_spec(target_name)
    # The pruned path is only sound when the bucket columns are a subset
    # of the merge key — otherwise a matched target row can live OUTSIDE
    # the source-key buckets and would be re-inserted as a duplicate. A
    # table bucketed on non-key columns falls back to the full merge.
    if spec is not None and set(spec[0]) <= set(key):
        bcols, n = spec
        ids = touched_buckets(source, bcols, n)
        if not ids:
            return read_version  # empty load: no empty commit
        target = store.read_buckets(spark, target_name, ids)
        new_target, changes = plan_upsert(target, source, key, compare_cols,
                                          delete_match)
        return store.commit_buckets(target_name, new_target, ids,
                                    changes=changes, read_version=read_version)
    target = store.read(spark, target_name, version=read_version)
    new_target, changes = plan_upsert(target, source, key, compare_cols,
                                      delete_match)
    return store.commit(target_name, _sized_as(store, new_target, target),
                        changes=changes, read_version=read_version)


def _sized_as(store, new_target: DataFrame, target: DataFrame) -> DataFrame:
    """A merged plain snapshot reads only stabilized frames, which give
    the store's byte-sized write rule (``TableStore._sized``) no input
    bytes; size it from the target snapshot it replaces instead — the
    estimate the rule would make for a direct rewrite of that target."""
    from ..store import TARGET_FILE_BYTES
    return new_target.coalesce(store._n_files(
        store._file_bytes(target.inputFiles()), TARGET_FILE_BYTES))


def plan_scd0(target: DataFrame, source: DataFrame,
              key: list[str]) -> tuple[DataFrame, DataFrame]:
    """SCD Type-0 merge plan — FIXED attributes: a matched key is never
    updated, whatever the source says; only never-seen keys insert. This
    is the reference's "no delete propagation" rule (SURVEY.md edge case
    5) taken to its retain-original limit: where Type-1 overwrites and
    Type-2 versions, Type-0 declares the first-seen row immutable
    (original hire date / first-touch attribution dimensions).

    Returns ``(new_target, cdc_changes)``; the change batch carries only
    INSERT rows (ISUPDATE=false) with the same key-hash ROW_ID as the
    rest of the DML family — a Type-0 merge can never emit an update
    pair by construction.

    Physical shape: ONE left-anti join of the delta-sized source against
    the target key set (AQE broadcasts the source; the target is only
    ever the probe side), then a union — no categorize pass, no change
    comparison, the cheapest member of the merge family."""
    cols = target.columns
    src = source.select(*cols)
    ins = src.join(target.select(*key), key, "left_anti")
    changes = ins.select(
        *cols, F.lit("INSERT").alias(CDC_ACTION),
        F.lit(False).alias(CDC_ISUPDATE), _row_id(key).alias(CDC_ROW_ID))
    return target.unionByName(ins), changes


def scd0_insert(store, spark, target_name: str, source: DataFrame,
                key: list[str], occ_retries: int = 3) -> int:
    """Execute the SCD Type-0 merge against the store (one atomic
    commit, CDC batch included).

    Plain tables take the TRUE-APPEND path (``commit_append``): the
    surviving insert rows are the commit's entire write cost — an
    insert-only merge must never rewrite the 100 TB current state it
    by definition does not change. Bucketed targets append via the
    pruned ``commit_buckets`` path (only buckets receiving inserts
    rewrite), under the same bucket-cols ⊆ key condition as
    merge_upsert. Lost OCC races re-derive against the winner's state
    (``occ_retries``, the merge_upsert convention) — note the
    plain-table path appends through an anti-join of the CURRENT
    snapshot, so it is not a blind append and can conflict."""
    source = store.stabilize(source)
    return _occ_retry(
        lambda: _scd0_insert_once(store, spark, target_name, source, key),
        occ_retries, store, target_name)


def _scd0_insert_once(store, spark, target_name: str, source: DataFrame,
                      key: list[str]) -> int:
    cols = store.schema(target_name).fieldNames()
    read_version = store.version(target_name)
    if read_version < 0:
        src = source.select(*cols)
        changes = src.select(
            *cols, F.lit("INSERT").alias(CDC_ACTION),
            F.lit(False).alias(CDC_ISUPDATE), _row_id(key).alias(CDC_ROW_ID))
        if store.bucket_spec(target_name) is not None:
            return store.commit(target_name, src, changes=changes,
                                read_version=-1)
        # first load is also snapshot-derived ("the table was empty"):
        # validate read_version=-1 so two racing first loads cannot
        # both insert (the loser re-derives through the retry wrapper)
        return store.commit_append(target_name, src, changes=changes,
                                   read_version=-1)
    spec = store.bucket_spec(target_name)
    if spec is not None and set(spec[0]) <= set(key):
        bcols, n = spec
        ids = touched_buckets(source, bcols, n)
        if not ids:
            return read_version  # empty load: no empty commit
        target = store.read_buckets(spark, target_name, ids)
        new_target, changes = plan_scd0(target, source, key)
        return store.commit_buckets(target_name, new_target, ids,
                                    changes=changes,
                                    read_version=read_version)
    target = store.read(spark, target_name, version=read_version)
    # Append-only storage shape: anti-join yields just the new rows;
    # commit_append writes ONLY them as a new segment (the current
    # snapshot is immutable under Type-0, so it is never rewritten).
    # NOT a blind append — the anti-join read the snapshot, so the
    # commit validates read_version (two racing loads of one key must
    # not both insert it; the loser re-derives via the retry wrapper).
    ins = source.select(*cols).join(target.select(*key), key, "left_anti")
    changes = ins.select(
        *cols, F.lit("INSERT").alias(CDC_ACTION),
        F.lit(False).alias(CDC_ISUPDATE), _row_id(key).alias(CDC_ROW_ID))
    return store.commit_append(target_name, ins, changes=changes,
                               read_version=read_version)


def plan_scd3(target: DataFrame, source: DataFrame, key: list[str],
              compare_cols: list[str],
              track: dict[str, str]) -> tuple[DataFrame, DataFrame]:
    """SCD Type-3 merge plan: a current-state upsert (Type-1 shape,
    ``plan_upsert``) that additionally preserves the PRIOR value of each
    tracked column in a companion column — the "previous state" pattern
    of the dimension family the reference's SCD2 pipeline belongs to
    (Type-2 keeps full history rows, Setup.sql:143-153; Type-3 keeps
    exactly one prior value in-row; Type-1 keeps none — that is
    ``merge_upsert`` itself).

    ``track`` maps tracked column → its previous-value column; the
    target schema is the source schema plus those columns. Semantics:

    - matched + changed → UPDATE: base columns take the source values;
      each prev column ``p`` for tracked ``c`` becomes
      ``CASE WHEN t.c != s.c THEN t.c ELSE t.p END`` — null-sensitive
      ``!=`` (the J3 convention, Setup.sql:102-109): a NULL comparand
      keeps the old prev value, and a load that changes OTHER compare
      columns but not ``c`` leaves ``p`` untouched. The null-sensitivity
      is symmetric: when the TARGET value of ``c`` is NULL (a prior
      update — triggered by another compare column — wrote a source
      NULL into it), a later NULL→value transition also keeps the old
      prev, so ``p`` records the last NON-NULL prior state across NULL
      gaps, never NULL-as-prior. That is the deliberate Type-3 reading
      of the J3 rule ("NULL is the absence of a comparable state, not a
      state"); use a null-safe guard (``NOT t.c <=> s.c``) instead if a
      deployment wants NULL surfaced as a recordable prior;
    - not matched → INSERT with NULL prev columns (no prior value);
    - unchanged matched rows and rows absent from the load carry over
      (no delete propagation, SURVEY.md edge case 5).

    Returns ``(new_target, cdc_changes)`` with the same DELETE+INSERT
    pair encoding as ``plan_upsert`` over the FULL Type-3 schema, so
    signed consumers (incremental MVs) fold prev-column transitions too.
    Physical shape mirrors plan_upsert: one categorize join (source
    broadcastable when delta-sized) + the one tagged target pass of
    ``_target_images`` for carry-over and pre-images — the target is
    never on the build side.
    """
    cols = target.columns
    prev_cols = list(track.values())
    base_cols = [c for c in cols if c not in prev_cols]
    prev_type = {p: target.schema[p].dataType for p in prev_cols}

    s = source.select(*base_cols).alias("s")
    t = target.alias("t")
    on = [F.col(f"s.{k}") == F.col(f"t.{k}") for k in key]
    cat = stabilize(
        s.join(t.withColumn("_t_present", F.lit(True)), on, "left")
        .withColumn(
            "_op",
            F.when(F.col("_t_present").isNull(), F.lit("insert"))
            .when(_any_changed(compare_cols, "t", "s"), F.lit("update"))
            .otherwise(F.lit("noop")),
        )
    )
    s_base = [F.col(f"s.{c}").alias(c) for c in base_cols]

    def prev_exprs(side_has_target: bool):
        if not side_has_target:
            return [F.lit(None).cast(prev_type[p]).alias(p)
                    for p in prev_cols]
        return [F.when(F.col(f"t.{c}") != F.col(f"s.{c}"), F.col(f"t.{c}"))
                 .otherwise(F.col(f"t.{p}")).alias(p)
                for c, p in track.items()]

    upd = (cat.filter(F.col("_op") == "update")
           .select(*s_base, *prev_exprs(True)).select(*cols))
    ins = (cat.filter(F.col("_op") == "insert")
           .select(*s_base, *prev_exprs(False)).select(*cols))

    kept, upd_pre = _target_images(target, cat, key)
    changes = (
        ins.select(*cols, F.lit("INSERT").alias(CDC_ACTION),
                   F.lit(False).alias(CDC_ISUPDATE),
                   _row_id(key).alias(CDC_ROW_ID))
        .unionByName(upd.select(*cols, F.lit("INSERT").alias(CDC_ACTION),
                                F.lit(True).alias(CDC_ISUPDATE),
                                _row_id(key).alias(CDC_ROW_ID)))
        .unionByName(upd_pre))
    new_target = kept.unionByName(upd).unionByName(ins)
    return new_target, changes


def scd3_upsert(store, spark, target_name: str, source: DataFrame,
                key: list[str], compare_cols: list[str],
                track: dict[str, str], occ_retries: int = 3) -> int:
    """Execute the SCD Type-3 merge against the store (one atomic
    commit, CDC batch included). Bucketed targets take the pruned path
    under the same bucket-cols ⊆ merge-key condition as merge_upsert;
    the first load into an empty table is a pure append with NULL prev
    columns. Lost OCC races re-derive against the winner's state
    (``occ_retries``, the merge_upsert convention)."""
    source = store.stabilize(source)
    return _occ_retry(
        lambda: _scd3_upsert_once(store, spark, target_name, source,
                                  key, compare_cols, track),
        occ_retries, store, target_name)


def _scd3_upsert_once(store, spark, target_name: str, source: DataFrame,
                      key: list[str], compare_cols: list[str],
                      track: dict[str, str]) -> int:
    cols = store.schema(target_name).fieldNames()
    prev_cols = set(track.values())
    base_cols = [c for c in cols if c not in prev_cols]
    read_version = store.version(target_name)  # baseline at snapshot read
    if read_version < 0:
        schema = store.schema(target_name)
        src = source.select(
            *base_cols,
            *[F.lit(None).cast(schema[p].dataType).alias(p)
              for p in track.values()]).select(*cols)
        changes = src.select(
            *cols, F.lit("INSERT").alias(CDC_ACTION),
            F.lit(False).alias(CDC_ISUPDATE), _row_id(key).alias(CDC_ROW_ID))
        return store.commit(target_name, src, changes=changes,
                            read_version=-1)
    spec = store.bucket_spec(target_name)
    if spec is not None and set(spec[0]) <= set(key):
        bcols, n = spec
        ids = touched_buckets(source, bcols, n)
        if not ids:
            return read_version  # empty load: no empty commit
        target = store.read_buckets(spark, target_name, ids)
        new_target, changes = plan_scd3(target, source, key, compare_cols,
                                        track)
        return store.commit_buckets(target_name, new_target, ids,
                                    changes=changes,
                                    read_version=read_version)
    target = store.read(spark, target_name, version=read_version)
    new_target, changes = plan_scd3(target, source, key, compare_cols, track)
    return store.commit(target_name, _sized_as(store, new_target, target),
                        changes=changes, read_version=read_version)


#: Lost optimistic races a writer absorbs before falling back to the
#: table's exclusive derivation lock (store.exclusive_writer). Three
#: free-running attempts resolve transient contention; past that, the
#: writer is losing a sustained race and escalates.
_EXCLUSIVE_AFTER = 3


def _occ_retry(fn, occ_retries: int, store=None, table: str | None = None):
    """Run a snapshot-read → derive → commit closure, re-deriving
    against the new current state on each lost optimistic race (the
    merge_upsert convention, shared by the WHERE-DML statements —
    deterministic predicates/assignments make the re-run exactly the
    as-if-serial statement).

    Two anti-starvation layers, both measured in by
    tools/bench_occ_soak.py (6 writers on one hot bucket drove retry
    depths to 59 of a 100 budget with neither):

    - lost races back off with RANDOMIZED, exponentially-capped jitter
      before re-deriving — zero-delay retry storms re-derive in
      lockstep (the standard OCC remedy; Delta/Snowflake commit
      retries do the same), at a cost capped well below one
      re-derivation so uncontended retries stay cheap;
    - after ``_EXCLUSIVE_AFTER`` lost races the writer goes PESSIMISTIC:
      the remaining attempts run under ``store.exclusive_writer(table)``
      — commits by others are gated out for the duration of ONE
      derivation, so the first locked attempt validates cleanly and
      retry depth is bounded by the threshold, not by contention.

    Neither layer affects results: the re-run re-reads the current
    snapshot whenever (and under whatever lock) it happens."""
    import contextlib
    import random
    import time as _time

    from ..store import ConcurrentCommitError

    for attempt in range(occ_retries + 1):
        exclusive = (store is not None and table is not None
                     and attempt >= _EXCLUSIVE_AFTER)
        ctx = (store.exclusive_writer(table) if exclusive
               else contextlib.nullcontext())
        try:
            with ctx:
                return fn()
        except ConcurrentCommitError:
            if attempt == occ_retries:
                raise
            _time.sleep(random.uniform(0, min(0.05 * 2 ** attempt, 0.8)))
    raise AssertionError("unreachable")


def delete_where(store, spark, target_name: str, predicate,
                 key: list[str], occ_retries: int = 3) -> int:
    """``DELETE FROM target WHERE predicate`` with CDC emission — the
    DML statement the reference's MERGE surface lacks (its pipeline
    never deletes: SURVEY.md edge case 5), but that any retention /
    right-to-be-forgotten pass over a 100 TB corpus needs.

    Lost optimistic races re-evaluate the predicate against the
    winner's state and retry (``occ_retries``; the predicate is
    required deterministic already — see the single-evaluation notes
    below — so the retry IS the statement, serialized after the
    winner).

    Change rows are the deleted images with METADATA$ACTION='DELETE',
    ISUPDATE=false (a true removal, not an update's pre-image pair), and
    the same key-hash ROW_ID the merge assigns — so a signed consumer
    (e.g. operators/incremental.py) folds deletes exactly, and an SCD2
    consumer can distinguish removal from update by the ISUPDATE flag.

    Bucketed targets rewrite ONLY buckets holding matching rows (the
    predicate still scans all buckets to FIND matches — predicates are
    arbitrary; with the key in the predicate, pre-prune by reading only
    those buckets). ``key`` names the ROW_ID columns; no key-coverage
    requirement — deletion never moves rows across buckets.

    Returns the new version; a predicate matching nothing is a no-op
    (no empty commit, no empty change batch).
    """
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    # SQL DELETE semantics: remove rows where the predicate is TRUE;
    # NULL-predicate rows are KEPT (a bare ~pred would silently drop
    # them — NULL negates to NULL, which filter discards).
    pred = F.coalesce(pred.cast("boolean"), F.lit(False))
    cols = store.schema(target_name).fieldNames()
    rid = _row_id(key)

    def attempt() -> int:
        # Baseline captured at snapshot-read time and pinned through
        # the read: the isEmpty() action below is a table-sized job,
        # and a commit landing during it must fail validation (not
        # slide by because the baseline was re-read at commit entry).
        read_version = store.version(target_name)
        current = store.read(spark, target_name, version=read_version)
        matched = current.filter(pred)
        if matched.isEmpty():
            return store.version(target_name)
        changes = matched.select(
            *cols, F.lit("DELETE").alias(CDC_ACTION),
            F.lit(False).alias(CDC_ISUPDATE), rid.alias(CDC_ROW_ID))

        spec = store.bucket_spec(target_name)
        if spec is not None:
            bcols, n = spec
            ids = touched_buckets(matched, bcols, n)
            remaining = store.read_buckets(spark, target_name,
                                           ids).filter(~pred)
            return store.commit_buckets(target_name, remaining, ids,
                                        changes=changes,
                                        read_version=read_version)
        return store.commit(target_name, current.filter(~pred),
                            changes=changes, read_version=read_version)

    return _occ_retry(attempt, occ_retries, store, target_name)


def update_where(store, spark, target_name: str, predicate,
                 set_exprs: dict, key: list[str],
                 occ_retries: int = 3) -> int:
    """``UPDATE target SET col = expr, ... WHERE predicate`` with CDC
    emission — completing the DML family next to ``merge_upsert`` and
    ``delete_where`` (the reference only updates through its MERGE,
    ``SCD-Configuration Setup.sql:102-113``; a standalone UPDATE is what
    a backfill / correction pass over a 100 TB table uses).

    ``set_exprs`` maps column name → Column or SQL string, evaluated
    against the OLD row (standard SQL UPDATE semantics: all assignments
    see the pre-update values, so ``{"a": "b", "b": "a"}`` swaps).

    Change rows reproduce the stream's update encoding exactly
    (Setup.sql:231-232): one DELETE pre-image + one INSERT post-image
    per updated row, both ISUPDATE=true, sharing a ROW_ID computed from
    the PRE-image key — a stream consumer pairs them the same way it
    pairs the merge's update rows. Rows matching the predicate but
    left byte-identical by the assignments are NOT suppressed (SQL
    UPDATE touches them; the reference's write-avoidance guard is a
    property of its MERGE condition, not of UPDATE).

    Bucketed targets rewrite only buckets holding matched rows — valid
    only while no assigned column is a bucket column; an UPDATE that
    rewrites a bucket column can move rows across buckets, so that case
    falls back to a full-table rewrite (same guard family as
    ``merge_upsert``'s key-coverage check).

    Returns the new version; a predicate matching nothing is a no-op.

    Single-evaluation contract: the matched frame and the post-image
    (SET expressions + pre-image ROW_ID) are each lazily stabilized
    (``store.stabilize``), so the snapshot rewrite and the CDC batch
    derive from ONE evaluation of the predicate and ONE evaluation of
    every assignment — a nondeterministic SET expression (``rand()``,
    ``uuid()``, a ``current_timestamp`` backfill) cannot make the change
    stream diverge from the committed table. The KEPT-row complement
    (``filter(~pred)``) still re-evaluates the predicate, so the
    predicate itself must be deterministic (same contract as
    ``delete_where``).
    """
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    # NULL-predicate rows are untouched, matching SQL UPDATE.
    pred = F.coalesce(pred.cast("boolean"), F.lit(False))
    cols = store.schema(target_name).fieldNames()
    sets = {c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in set_exprs.items()}
    unknown = set(sets) - set(cols)
    if unknown:
        raise ValueError(f"update_where: SET columns not in "
                         f"{target_name}'s schema: {sorted(unknown)}")
    rid = _row_id(key)

    def attempt() -> int:
        # Baseline at snapshot-read time (see delete_where): the
        # stabilize() jobs below are the unvalidated window a
        # commit-entry baseline would silently lose races in.
        read_version = store.version(target_name)
        current = store.read(spark, target_name, version=read_version)
        matched = store.stabilize(current.filter(pred))
        if matched.isEmpty():
            return store.version(target_name)

        # Post-image built in ONE select so every assignment reads the
        # pre-update row (no withColumn chaining, which would let later
        # assignments observe earlier ones). ROW_ID must come from the
        # PRE-image key even when the key itself is assigned — matched
        # still has the old values, so the rid is computed alongside
        # the assignments and carried through the post projection.
        post_proj = [sets.get(c, F.col(c)).alias(c) for c in cols]
        updated = store.stabilize(
            matched.select(*post_proj, rid.alias(CDC_ROW_ID)))
        post = updated.drop(CDC_ROW_ID)
        pre_rows = matched.select(
            *cols, F.lit("DELETE").alias(CDC_ACTION),
            F.lit(True).alias(CDC_ISUPDATE), rid.alias(CDC_ROW_ID))
        post_rows = updated.select(
            *cols, F.lit("INSERT").alias(CDC_ACTION),
            F.lit(True).alias(CDC_ISUPDATE), F.col(CDC_ROW_ID))
        changes = pre_rows.unionByName(post_rows)

        spec = store.bucket_spec(target_name)
        if spec is not None and not (set(sets) & set(spec[0])):
            bcols, n = spec
            ids = touched_buckets(matched, bcols, n)
            in_bkts = store.read_buckets(spark, target_name, ids)
            # No assigned column is a bucket column, so every
            # post-image row stays in a touched bucket — reuse the
            # stabilized post frame instead of re-running the
            # assignments over the bucket read.
            new_rows = in_bkts.filter(~pred).unionByName(post)
            return store.commit_buckets(target_name, new_rows, ids,
                                        changes=changes,
                                        read_version=read_version)
        new_rows = current.filter(~pred).unionByName(post)
        return store.commit(target_name, new_rows, changes=changes,
                            read_version=read_version)

    # Lost optimistic races re-run the whole statement (fresh read,
    # fresh single-evaluation stabilizations) against the winner's
    # state — deterministic predicate + assignments make the retry the
    # as-if-serial UPDATE.
    return _occ_retry(attempt, occ_retries, store, target_name)
