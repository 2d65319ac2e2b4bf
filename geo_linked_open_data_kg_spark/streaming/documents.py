"""Streaming ingest surface for the document corpus: incremental
mention detection / entity linking over a readStream of document drops.

The reference's streaming-adjacent notion is resumable incremental
batch (SURVEY.md §2.9); the Spark-first shape for "new documents keep
arriving" is a file-source stream + foreachBatch running the SAME
batch operators per micro-batch — mention detection is per-document
work (the per-span groupBy never crosses documents), so incremental
processing is semantics-preserving by construction, and exactly-once
file-source tracking replaces the reference's offset/resume state files
(create_admin_hierarchies_robust.py:40-50).

Results append to a parquet sink; combined with
plans.checkpoint.CheckpointStore.merge_upsert the same loop supports
keyed re-drops (an updated document replaces its own mentions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]))),
])


def read_documents_stream(spark: SparkSession, path: str) -> DataFrame:
    return (spark.readStream
            .schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", 8)
            .parquet(path))


def _guard_fresh_checkpoint(out_path: str, checkpoint_dir: str) -> None:
    """Batch ids restart at 0 under a FRESH checkpoint, and the
    idempotent sink's dynamic partition overwrite would then silently
    replace an earlier run's `_batch_id=0..` partitions (round-4
    ADVICE). Fail fast instead: a new checkpoint must come with a new
    (or empty) out_path; resuming an existing out_path requires the
    checkpoint that produced it."""
    import os
    fresh = not os.path.isdir(os.path.join(checkpoint_dir, "offsets"))
    if fresh and os.path.isdir(out_path) and any(
            e.startswith("_batch_id=") for e in os.listdir(out_path)):
        raise ValueError(
            f"fresh streaming checkpoint {checkpoint_dir!r} would "
            f"overwrite existing batch partitions in {out_path!r}; "
            "reuse the original checkpoint dir or point the stream at "
            "a new out_path")


def stream_detect_mentions(doc_stream: DataFrame, places: DataFrame,
                           out_path: str, checkpoint_dir: str,
                           available_now: bool = True,
                           timeout_sec: int = 300):
    """Incremental stage-1 detection: each micro-batch of documents runs
    the batch `detect_mentions` operator and appends to a parquet sink.

    Valid because detection is per-document (broadcast alias map, spans
    never cross documents) — batch(all docs) == union of batch(drops).

    End-to-end exactly-once, not just source-side: the file source's
    offset log dedupes input files, and the sink write is IDEMPOTENT per
    micro-batch — each batch dynamic-partition-overwrites its own
    `_batch_id=<n>` partition, so a batch retried after a crash between
    the sink write and the offset-log commit replaces its own partition
    instead of appending duplicates (a blind mode('append') here would
    only be at-least-once). Batch ids keep increasing across restarts of
    the same checkpoint, so partitions never collide across runs.
    Readers drop the `_batch_id` partition column.
    """
    from geo_linked_open_data_kg_spark.operators.mentions import (
        detect_mentions,
    )
    _guard_fresh_checkpoint(out_path, checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F
        (detect_mentions(batch_df, places)
         .withColumn("_batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(out_path))

    writer = (doc_stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination(timeout_sec)
    return q


def stream_link_mentions(doc_stream: DataFrame, places: DataFrame,
                         stop_surfaces: DataFrame, out_path: str,
                         checkpoint_dir: str,
                         available_now: bool = True,
                         timeout_sec: int = 600):
    """Incremental stage-1+2: each micro-batch of documents runs the FULL
    scored linking cascade (exact / admin / geo / historical / fuzzy with
    the count-based gate) and writes to an idempotent per-batch-partition
    parquet sink.

    Snapshot semantics (the corpus-level state freeze): the fuzzy
    stoplist is the cascade's only cross-document statistic, so it is
    PINNED to `stop_surfaces` — derived once from a corpus snapshot at
    stream start (operators.linking.snapshot_stop_surfaces) — and new
    drops do NOT retroactively change it. With the stoplist pinned,
    linking is per-document (broadcast alias map, vocabulary-level fuzzy
    dims, per-occurrence ranking), so batch(all docs) == union of
    batch(drops) exactly; refresh the snapshot by restarting the stream
    with a re-derived stoplist when corpus drift warrants it. The
    gazetteer (`places`) is likewise a frozen dimension for the stream's
    lifetime: its linking dims are pinned once at stream start too, so a
    micro-batch neither scans `places` nor re-runs the dims' shuffles."""
    from geo_linked_open_data_kg_spark.operators.linking import (
        GazetteerDims,
        link_mentions,
    )
    _guard_fresh_checkpoint(out_path, checkpoint_dir)
    # one eager materialization each: the stoplist must not be recomputed
    # (or worse, recomputed over a GROWN corpus) per micro-batch, and the
    # gazetteer dims are the same for every batch
    pinned = stop_surfaces.localCheckpoint(eager=True)
    dims = GazetteerDims(places).pin()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F
        (link_mentions(batch_df, places, stop_surfaces=pinned, dims=dims)
         .withColumn("_batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(out_path))

    writer = (doc_stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination(timeout_sec)
    return q


CORPUS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("source", T.StringType()),
])


def read_corpus_stream(spark: SparkSession, path: str) -> DataFrame:
    return (spark.readStream
            .schema(CORPUS_SCHEMA)
            .option("maxFilesPerTrigger", 8)
            .parquet(path))


def stream_curate_documents(doc_stream: DataFrame, out_path: str,
                            checkpoint_dir: str,
                            eval_docs: DataFrame | None = None,
                            weights: dict[str, float] | None = None,
                            seed: str = "mix-v1",
                            decontam_k: int = 5,
                            available_now: bool = True,
                            timeout_sec: int = 300):
    """Filter-at-ingest: each micro-batch of raw documents runs the
    curation pipeline's PER-DOCUMENT stages — quality verdicts, PII
    scrub, benchmark decontamination against a PINNED eval-shingle
    snapshot, deterministic hash-threshold mixture sampling — and
    appends survivors to an idempotent per-batch-partition sink.

    Streamable because every included decision is a pure function of
    the single row (the mixture hash is content-addressed, so the same
    doc keeps or drops identically in any batch; the eval set is a
    frozen dimension like `places` in stream_link_mentions):
    batch(all docs) == union of batch(drops) EXACTLY. Near-dup grouping
    is deliberately excluded — it is the one cross-document stage, and
    its streaming spelling is the periodic compaction job
    `plans/curation.merge_curation_batch` — incremental signature-store
    dedup over the curated sink, O(new batch + signatures) — not
    per-batch state (a batch-global LSH index would reintroduce exactly
    the unbounded state Spark's watermark model exists to avoid)."""
    from pyspark.sql import functions as F

    from geo_linked_open_data_kg_spark.operators.dedup import decontaminate
    from geo_linked_open_data_kg_spark.operators.sampling import (
        domain_mixture,
    )
    from geo_linked_open_data_kg_spark.operators.textstats import (
        quality_filter,
        redact_pii,
    )
    _guard_fresh_checkpoint(out_path, checkpoint_dir)
    pinned_eval = (eval_docs.localCheckpoint(eager=True)
                   if eval_docs is not None else None)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        kept = (batch_df
                .join(quality_filter(batch_df).where(F.col("keep"))
                      .select("doc_id"), "doc_id")
                .select("doc_id", "source",
                        redact_pii(F.col("text")).alias("text")))
        if pinned_eval is not None:
            kept = kept.join(
                decontaminate(kept, pinned_eval, k=decontam_k)
                .select("doc_id"), "doc_id", "left_anti")
        curated = kept.join(
            domain_mixture(kept, weights or {}, seed=seed)
            .select("doc_id"), "doc_id")
        (curated
         .withColumn("_batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(out_path))

    writer = (doc_stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination(timeout_sec)
    return q
