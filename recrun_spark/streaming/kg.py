"""Incremental KG construction over a document stream (SURVEY.md §2.8 +
north_rule stage 4 resume semantics, streaming form).

``run_kg_available_now`` drains newly-arrived document files through the
SAME stage-1..4 operators as the batch pipeline inside ``foreachBatch``
(one fused stage-1 pass per micro-batch, its extractions persisted until
the batch's triples are written):

* every triple rule is doc-scoped (mentioned_in / co_mentioned_with /
  illustrated_by / next_page_of all carry the doc_id they came from), and
  each document lands in exactly one micro-batch — so the union of the
  per-batch outputs equals the batch pipeline's output EXACTLY (set
  equality, tested), with no cross-batch reconciliation needed;
* each batch writes to ``triples/batch=<id>/`` with mode=overwrite —
  idempotent per batchId, so a retried/re-executed batch cannot duplicate
  (the foreachBatch exactly-once recipe);
* the alias dictionary and canonical map are computed once per run
  (dictionary-scale, stage-3 fast path) and reused across batches;
* re-running after new files land processes ONLY the new files (file-source
  checkpoint), the streaming counterpart of manifest-based resume.

Late-data contract: documents are NOT event-timed — every triple rule is a
pure function of a single document, so there is no watermark and nothing
to buffer.  A late or out-of-order arrival (a backfilled file with an
older mtime, docs arriving in any order) is simply a new file: it is
processed exactly once into its own batch, and the union is unchanged
(tests/test_streaming.py::test_incremental_kg_late_out_of_order_arrival).
Event-time semantics live where event time exists — the sessionizer
(sessions.py) carries the watermark + event-time-timeout story.
(File-source caveat: files older than the source's ``maxFileAge`` —
default 7 days — behind the newest seen file are ignored; backfills older
than that need a batch job, not the stream.)
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..readability import Settings
from ..operators import release_caches
from ..stage1 import DOCUMENTS_SCHEMA, extract_documents
from ..stage2 import explode_mentions, link_mentions, load_aliases
from ..stage3 import canonicalize
from ..stage4 import assemble_triples


def run_kg_available_now(spark: SparkSession, input_dir: str, out_dir: str,
                         aliases_df: DataFrame | None = None,
                         settings: Optional[Settings] = None,
                         max_files_per_trigger: int = 1) -> str:
    """Drain available document files through the full KG flow; returns the
    triples root (one ``batch=<id>/`` parquet dir per processed batch)."""
    aliases = aliases_df if aliases_df is not None else load_aliases(spark)
    surfaces = [r["alias"]
                for r in aliases.select("alias").distinct().collect()]
    canonical = canonicalize(aliases)
    triples_root = os.path.join(out_dir, "triples")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # the extractions (with their fused mentions) feed the linked
        # mentions and the illustrated_by / next_page_of branches: persist
        # them so the batch is folded once, not once per branch
        ex = extract_documents(batch_df, settings,
                               surfaces=surfaces).persist()
        linked = link_mentions(explode_mentions(ex), aliases)
        trips = assemble_triples(ex, linked, canonical)
        try:
            (trips.write.mode("overwrite")
             .parquet(os.path.join(triples_root, f"batch={batch_id}")))
        finally:
            release_caches(trips)
            ex.unpersist()

    stream = (spark.readStream.schema(DOCUMENTS_SCHEMA)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))
    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return triples_root
