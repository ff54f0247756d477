"""Structured Streaming ingestion for the KG pipeline (SURVEY.md §2.8).

The reference is a per-document streaming fold with no cross-document state
— so corpus-level incremental processing maps cleanly to Structured
Streaming: ``readStream`` over a document source → the SAME stage-1
extraction (mapInArrow works unchanged on streaming DataFrames) →
``writeStream`` with checkpointing.  ``Trigger.AvailableNow`` drains the
backlog batch-style and exits, which is the right shape for incremental
10^12-doc ingestion (run per arrival window, exactly-once via the checkpoint
+ file-sink manifest).

No watermarks or stateful operators are needed (and the north rule's
checkpoint/resume is batch-level) — late data cannot exist because each
document is self-contained; per SURVEY.md §2.8 we deliberately do NOT
invent event-time semantics the reference doesn't have.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..readability import Settings
from ..stage1 import DOCUMENTS_SCHEMA, extract_documents


def stream_documents(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: Optional[int] = None
                     ) -> DataFrame:
    """readStream over a parquet document directory (files arriving over
    time = the incremental corpus)."""
    r = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.parquet(input_dir)


def extract_stream(stream_df: DataFrame,
                   settings: Optional[Settings] = None) -> DataFrame:
    """Stage-1 extraction on a streaming DataFrame — the batch path's
    Arrow map, without its spread: ``stage1.spread_by_doc`` cannot count a
    streaming input, so each micro-batch is folded in the scan's own
    splits, with no exchange, and the sink writes one file per non-empty
    split."""
    return extract_documents(stream_df, settings)


def run_available_now(spark: SparkSession, input_dir: str, out_dir: str,
                      settings: Optional[Settings] = None) -> dict:
    """Drain all currently-available documents through extraction into a
    parquet sink with exactly-once checkpointing; returns progress info.

    Re-running after new files land processes ONLY the new files (the
    checkpoint records what was seen) — the streaming counterpart of the
    batch pipeline's manifest-based resume.
    """
    ex = extract_stream(stream_documents(spark, input_dir), settings)
    q = (ex.writeStream
         .format("parquet")
         .option("path", os.path.join(out_dir, "extractions"))
         .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
         .trigger(availableNow=True)
         .outputMode("append")
         .start())
    q.awaitTermination()
    progress = q.lastProgress or {}
    return {"batches": progress.get("batchId", -1) + 1
            if isinstance(progress.get("batchId"), int) else None,
            "sink": os.path.join(out_dir, "extractions")}
