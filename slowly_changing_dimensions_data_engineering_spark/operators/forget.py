"""Deletion-request propagation — the right-to-be-forgotten cascade.

The reference pipeline never deletes (its MERGE surface is
insert/update-only — `SCD-Configuration Setup.sql:99-119`, SURVEY.md
§2.1 edge case 5), but any production training-data platform must
honor erasure requests END TO END: removing a document from the
corpus store is not enough while its minhash signatures still seed
dedup candidates, its vector still surfaces from ANN indexes, and a
shard manifest still schedules it into a training epoch. This module
is the derived-artifact half of that cascade; the corpus-store half is
``operators/merge.py::delete_where`` (CDC-emitting, bucket-pruned),
which already exists.

Design for 100 TB:

- Every persisted derived artifact in this repo is a parquet tree
  partitioned by a blocking key (minhash index by ``band``, IVF /
  IVF-PQ indexes by ``centroid_id``, shard manifests by ``shard``), so
  erasure is a PARTITION-LOCAL rewrite: find the partitions holding
  killed ids (one pruned scan + a bounded distinct-partition collect,
  the ``merge.py`` bucket-id convention), rewrite only those via
  Spark's dynamic partition overwrite, and drop partitions whose rows
  were all killed. Untouched partitions keep their files byte-for-byte
  (pinned by test).
- Locality varies by artifact and that is honest physics: an IVF
  vector lives in exactly ONE centroid partition (per-kill cost =
  one cell), while a minhash signature has a row in EVERY band
  partition (per-batch cost = the full band set) — which is why
  production erasure runs as a BATCHED maintenance pass (accumulate a
  kill list, cascade once per cycle), not per-request. The API takes
  the kill list as a DataFrame for exactly this reason.
- The kill list is request-sized (thousands against a 100 TB corpus)
  and is broadcast into the anti-joins explicitly.

Erasure vs time travel: rewriting the CURRENT index state does not
erase history a store keeps for time travel — a complete forget also
runs ``store.vacuum``/``vacuum_changes`` so pre-deletion versions and
change batches age out (composed in ``queries.deletion_cascade_audit``
and tested in tests/test_forget.py).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import stabilize

#: Directory name Spark/Hive write for a NULL partition value.
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _partition_dirs(path: str, partition_col: str) -> dict[str, str]:
    """Map UNESCAPED partition value → actual directory path, by
    listing ``path`` and decoding Spark's partition-path escaping
    (``%XX`` per ``ExternalCatalogUtils.escapePathName``; a null value
    is the literal ``__HIVE_DEFAULT_PARTITION__`` name, surfaced here
    under that key). Listing-then-matching — instead of formatting the
    expected name from the value — is what keeps erasure correct for
    values containing ``=``, ``/``, ``%`` or other escaped characters."""
    from urllib.parse import unquote

    prefix = f"{partition_col}="
    out: dict[str, str] = {}
    for entry in os.listdir(path):
        full = os.path.join(path, entry)
        if not (os.path.isdir(full) and entry.startswith(prefix)):
            continue
        raw = entry[len(prefix):]
        key = raw if raw == _NULL_PARTITION else unquote(raw)
        out[key] = full
    return out


def forget_partitions(spark: SparkSession, path: str, kill: DataFrame,
                      id_col: str, partition_col: str) -> dict:
    """Remove every row whose ``id_col`` appears in ``kill`` from the
    partitioned parquet artifact at ``path``, rewriting ONLY the
    partitions that contain such rows.

    Returns an audit dict: ``n_before``/``n_after`` row counts,
    ``n_removed``, ``partitions_rewritten`` (values whose directories
    were rewritten in place), ``partitions_dropped`` (values whose rows
    were all killed — their directories are deleted outright, since a
    dynamic overwrite writes nothing for an empty partition and would
    silently leave the old files live).

    The rewrite is anti-join → ``stabilize()`` → dynamic-partition
    overwrite: the materialization barrier is load-bearing, not a
    courtesy — the survivors frame reads the same files the overwrite
    commit replaces, so a lazy plan would race its own input. The
    barrier is therefore forced to a real checkpoint here even when the
    session runs ``spark.sds.stabilize.mode=none`` (pure lineage would
    recompute survivors from already-replaced files)."""
    if "://" in path and not path.startswith("file:"):
        raise NotImplementedError(
            f"forget_partitions only supports local filesystem paths "
            f"(got {path!r}): dropped-partition cleanup uses local "
            f"directory removal; route remote trees through the Hadoop "
            f"FileSystem API before relying on this for erasure")
    kill_ids = F.broadcast(kill.select(F.col(id_col)).distinct())
    idx = spark.read.parquet(path)
    n_before = idx.count()

    # bounded collect: the distinct partition values holding killed
    # rows (the merge.py distinct-bucket convention — partition count,
    # never row count)
    affected = [r[0] for r in
                (idx.join(kill_ids, id_col, "left_semi")
                 .select(partition_col).distinct().collect())]
    if not affected:
        return {"n_before": n_before, "n_after": n_before, "n_removed": 0,
                "partitions_rewritten": [], "partitions_dropped": []}

    from ..session import STABILIZE_MODE_CONF
    mode = spark.conf.get(STABILIZE_MODE_CONF, "local")
    if mode == "none":
        mode = "local"  # lineage is NOT a barrier; see docstring
    hit = idx.filter(F.col(partition_col).isin(affected))
    survivors = stabilize(hit.join(kill_ids, id_col, "left_anti"), mode=mode)
    # this collect is also the action that materializes the checkpoint
    # BEFORE any replaced file is touched
    keep_parts = {r[0] for r in
                  survivors.select(partition_col).distinct().collect()}
    dropped = [v for v in affected if v not in keep_parts]
    rewritten = [v for v in affected if v in keep_parts]

    if rewritten:
        # one survivor file per rewritten partition dir, not one per
        # upstream task per dir (the ivf_build_index write rule). The
        # per-write option overwrites only the partitions written —
        # dynamic mode without touching the session conf, which other
        # writers share.
        (survivors.repartition(F.col(partition_col))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(partition_col).parquet(path))
    # fail LOUDLY if a kill-list partition cannot be removed — a silent
    # no-op here would leave erased rows live, the opposite of the
    # erasure guarantee. Directory names are resolved by LISTING the
    # tree and unescaping Spark's partition-path encoding (%XX for
    # special characters, __HIVE_DEFAULT_PARTITION__ for null) rather
    # than string-formatting f"{col}={v}" — a formatted guess misses
    # escaped values and would abort the audit on a phantom
    # FileNotFoundError instead of a real erasure gap.
    if dropped:
        by_value = _partition_dirs(path, partition_col)
        for v in dropped:
            key = _NULL_PARTITION if v is None else str(v)
            if key not in by_value:
                raise FileNotFoundError(
                    f"erasure gap: partition {partition_col}={key!r} holds "
                    f"killed rows but no matching directory exists under "
                    f"{path!r} (found: {sorted(by_value)})")
            shutil.rmtree(by_value[key])

    # an erasure that emptied every partition leaves no parquet files;
    # reading the bare dir would raise schema-inference instead of 0
    has_files = any(f.endswith(".parquet")
                    for _, _, fs in os.walk(path) for f in fs)
    n_after = spark.read.parquet(path).count() if has_files else 0
    return {"n_before": n_before, "n_after": n_after,
            "n_removed": n_before - n_after,
            "partitions_rewritten": sorted(rewritten),
            "partitions_dropped": sorted(dropped)}


def forget_cascade(spark: SparkSession, kill: DataFrame, kill_col: str,
                   artifacts: dict[str, tuple[str, str, str]]) -> DataFrame:
    """Run :func:`forget_partitions` over every derived artifact and
    return the audit frame — one row per artifact: (artifact,
    n_before, n_after, n_removed, n_parts_rewritten, n_parts_dropped).

    ``artifacts`` maps artifact name → (parquet path, id column inside
    that artifact, partition column); ``kill`` carries the erasure ids
    in ``kill_col`` and is renamed per artifact (a doc-keyed index and
    a vector-keyed index share one kill list). The corpus STORE itself
    is deleted separately via ``merge.py::delete_where`` (it needs CDC
    emission and version history, which a raw parquet tree does not
    have); compose both in one pass as
    ``queries.deletion_cascade_audit`` does.

    The artifacts are DISJOINT parquet trees, so their rewrites are
    independent jobs and run through a small thread pool (guide §2.6 —
    each artifact's pass is a chain of small driver-synchronized jobs,
    and running them sequentially left the cluster idle between
    chains; r18, VERDICT r17 #7). Each rewrite sets dynamic partition
    overwrite as its own write option, so no session conf changes and
    the threads share no state. The pool holds at most 8 threads."""
    from concurrent.futures import ThreadPoolExecutor

    items = sorted(artifacts.items())

    def one(item):
        name, (path, id_col, pcol) = item
        rep = forget_partitions(
            spark, path, kill.select(F.col(kill_col).alias(id_col)),
            id_col, pcol)
        return (name, rep["n_before"], rep["n_after"],
                rep["n_removed"], len(rep["partitions_rewritten"]),
                len(rep["partitions_dropped"]))

    with ThreadPoolExecutor(max_workers=min(8, max(1, len(items)))) as pool:
        rows = list(pool.map(one, items))
    return spark.createDataFrame(
        rows, schema="artifact string, n_before long, n_after long,"
                     " n_removed long, n_parts_rewritten long,"
                     " n_parts_dropped long")
