"""Structured Streaming variant of the ER pipeline.

The reference serves requests through Flask micro-batches
(`/root/reference/src/pipeline.py:263-338`); the Spark-native analog is a
``readStream`` of document files whose ``foreachBatch`` runs the
assignment half of the one ER core (``plans.pipeline``): normalize the
batch's distinct mention texts, block and score their signatures
(``candidate_signatures`` + ``score_pair_sigs``), keep each text's
rank-1 winner above threshold (``signature_winners``), and join the
batch's mention occurrences to the winners on the normalized text.  The
sink is made idempotent by writing each micro-batch to its own
``_batch_id=<id>`` partition with dynamic partition OVERWRITE: a batch
retried after a partial or completed write replaces its own partition
instead of appending duplicates, which upgrades foreachBatch's native
at-least-once to effectively-once (ADVICE r1).

Clustering stays a periodic batch job, but INCREMENTAL: iterative CC is
not expressible inside a streaming trigger, so ``update_clusters``
merges each new edge batch into the persisted (node, component) state via
``operators.cc.incremental_components`` — state is O(live nodes), never
the full edge log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from wdel_spark.datagen.corpus import DOCUMENTS_SCHEMA
from wdel_spark.functions.textnorm import block_key_col, normalize_col
from wdel_spark.operators.cc import incremental_components
from wdel_spark.plans.pipeline import (
    PipelineParams,
    candidate_signatures,
    explode_mentions,
    score_pair_sigs,
    signature_winners,
)


def run_streaming_assignments(
    spark: SparkSession,
    input_path: str,
    kb: DataFrame,
    output_path: str,
    checkpoint_path: str,
    params: PipelineParams = PipelineParams(),
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Stream documents -> per-mention entity assignments
    (doc_id, span_idx, qid, score) in a parquet sink.

    ``kb``: prepared alias table (``prepare_kb`` output, unique per
    (block_key, norm_alias, qid) — see ``er_ids_plan``).  Each
    micro-batch runs the core's assignment half; results land in
    ``output_path``.  ``available_now`` drains existing files then stops
    (test/backfill mode); otherwise runs continuously.
    ``max_files_per_trigger`` bounds each micro-batch (with availableNow
    the source still drains fully, across several batches) — used to
    force a genuinely multi-batch drain over a bounded directory.
    """
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spans = explode_mentions(batch_df)
        raws = spans.select("raw").distinct().withColumn(
            "norm_mention", normalize_col(F.col("raw")))
        norms = raws.select("norm_mention").distinct().withColumn(
            "block_key", block_key_col(F.col("norm_mention")))
        winners = signature_winners(score_pair_sigs(
            candidate_signatures(norms, kb, params, assume_unique=True),
            kb), params)
        (
            spans.join(raws, "raw")
            .join(winners, "norm_mention")
            .select("doc_id", "span_idx", "qid", "score")
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(output_path)
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return None
    return writer.start()


def update_clusters(
    spark: SparkSession,
    new_edges: DataFrame,
    state_path: str,
) -> DataFrame:
    """Periodic cluster maintenance: fold a new edge batch into the
    persisted component state (parquet at ``state_path``) and rewrite it.

    Uses ``incremental_components``: prior components enter as star edges,
    so each maintenance run costs CC over (live nodes + batch edges), not
    over the full historical edge log.

    State layout is VERSIONED (ADVICE r2: the old write-then-swap double
    overwrite was neither atomic nor recoverable): each run writes a fresh
    ``v<N>`` directory and then atomically repoints the ``CURRENT`` pointer
    file (``os.replace``).  A crash mid-write leaves the pointer — and
    therefore the readable state — untouched; only after the pointer swap
    is the superseded version deleted.  A pointer that names an unreadable
    directory is CORRUPTION and raises instead of silently resetting the
    component state to empty."""
    import os
    import shutil

    os.makedirs(state_path, exist_ok=True)
    pointer = os.path.join(state_path, "CURRENT")
    prev, cur_name = None, None
    if os.path.exists(pointer):
        with open(pointer) as f:
            cur_name = f.read().strip()
        # the pointer is written only AFTER a successful state write, so a
        # read failure here is real corruption/transience — propagate it
        prev = spark.read.parquet(os.path.join(state_path, cur_name))
    comps = incremental_components(prev, new_edges)
    next_name = f"v{int(cur_name[1:]) + 1}" if cur_name else "v0"
    next_dir = os.path.join(state_path, next_name)
    comps.write.mode("overwrite").parquet(next_dir)
    tmp = pointer + ".tmp"
    with open(tmp, "w") as f:
        f.write(next_name)
    os.replace(tmp, pointer)  # atomic pointer swap
    # GC every version except the one CURRENT now names (ADVICE r3: only
    # deleting the immediately superseded version leaked a v<N> dir forever
    # if a crash landed between the swap and the rmtree)
    for name in os.listdir(state_path):
        if name.startswith("v") and name != next_name:
            shutil.rmtree(os.path.join(state_path, name), ignore_errors=True)
    return spark.read.parquet(next_dir)
