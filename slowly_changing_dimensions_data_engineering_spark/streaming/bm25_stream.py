"""Streaming BM25 index growth — the streaming face of
``operators/bm25.py``'s persisted impact index, completing the
streaming-index family (ANN ``ann_stream``, IVF-PQ, minhash
``dedup_stream`` — VERDICT r16 #6).

A production retrieval corpus grows continuously (new documents →
chunk → tokenize → postings); the searchable index must grow WITHOUT
rebuilds. The batch story already has the right pieces:
``bm25_build_index`` materializes the token-bucket-partitioned layout
and ``bm25_index_append`` grows it with blind bucket-dir appends
(postings + pure-append stat partials + a global partial row — never a
read-modify-write of stored lists). This module wires that append into
``foreachBatch``:

- ``spark.readStream`` on a documents directory — the file source's
  checkpoint gives exactly-once file consumption (the C3-analogue
  contract every streaming module here shares), so a document's
  postings land at most once across clean restarts;
- every micro-batch is ONE tokenize + term-frequency pass over the
  batch rows followed by an EPOCH-STAGED publish
  (``bm25_index_append_epoch``): the batch lands in a per-epoch staging
  dir (overwrite — replay-idempotent) and is then moved into the
  bucket dirs under deterministic ``epoch{N}-`` file names, sweeping
  any half-published leftovers of the same epoch first. The first
  epoch's publish into empty dirs IS the bootstrap — no separate
  overwrite-mode build step exists to race a replay against;
- searches between batches go through the standard probe
  (``bm25_query_slice``): scores are computed AT PROBE TIME under the
  CURRENT aggregated corpus statistics, so every stored posting
  silently rescores as the corpus grows — an append-grown index is
  score-identical to a from-scratch rebuild of the same corpus (the
  equivalence the driver checks via ``streaming_bm25_index_topk``
  against the unchanged full-corpus oracle).

Unlike the ANN/IVF-PQ streams there is NO frozen geometry to bootstrap:
BM25's "dictionary" is the token hash-bucketing, a pure function of the
token string — so batch order can never mis-partition history and
restarts need no sidecar state.

At 100 TB: per-batch cost is the batch's tokenize + one partitioned
append; stored postings are never re-read on growth; the probe reads
Σ df(query terms) rows through bucket-pruned listings, independent of
corpus size.

Delivery contract, precisely: EXACTLY-ONCE end to end. Source
consumption is exactly-once (the checkpoint's file offsets commit per
epoch), and the sink replays idempotently: a crash in the window after
a publish finishes but before its epoch commits re-runs
``bm25_index_append_epoch`` with the SAME epoch id, whose pre-publish
sweep of that epoch's deterministic file names makes the replay
converge to the identical visible state instead of doubling tf rows
(regression: tests/test_streaming.py crash-replay drill).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

#: (doc_id, text) — the minimal corpus schema the BM25 operators key on.
DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])


def start_streaming_bm25_index(
    spark: SparkSession,
    input_dir: str,
    index_path: str,
    checkpoint: str,
    schema: T.StructType = DOC_SCHEMA,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_chars: int = 200,
    overlap: int = 50,
    trigger_interval: str = "1 minute",
    available_now: bool = False,
) -> StreamingQuery:
    """Start the streaming BM25 index builder over JSON-lines document
    files arriving in ``input_dir``. Restarting with the same
    ``checkpoint`` resumes exactly-once; the index at ``index_path``
    grows by bucket-partitioned appends and is searchable between
    batches via ``bm25_query_slice(spark, index_path, query_tokens)``
    — probe scores always reflect the statistics of everything appended
    so far (append ≡ rebuild)."""
    from ..operators.bm25 import (
        bm25_index_append_epoch, bm25_term_freqs, bm25_tokenize_documents,
    )

    src = spark.readStream.schema(schema).json(input_dir)

    def process_batch(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # A micro-batch of few landed files arrives as few input
        # splits, serializing the chunk+tokenize explode onto as many
        # cores (measured r18 at sf0.1: the 1.2 MB bootstrap batch ran
        # its corpus pass single-core — 19.2s for the run). Spread
        # only when the batch's split count is below the core count —
        # a no-op at real scale, the queries._spread convention. A batch
        # plan that reads no files counts as zero splits and is spread.
        target = batch_df.sparkSession.sparkContext.defaultParallelism
        if len(batch_df.inputFiles()) < target:
            batch_df = batch_df.repartition(target)
        tf = bm25_term_freqs(bm25_tokenize_documents(
            batch_df, chunk_chars=chunk_chars, overlap=overlap,
            id_col=id_col, text_col=text_col))
        bm25_index_append_epoch(tf, index_path, epoch_id)

    writer = (src.writeStream.foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()
