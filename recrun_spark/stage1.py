"""Stage 1 — distributed content-retention extraction.

Runs the per-document readability fold (``recrun_spark.readability``) as an
Arrow-vectorized ``mapInArrow`` over the interleaved documents table
(``doc_id, spans array<struct<kind,text,media_ref,offset>>`` —
BASELINE.json input_hint).  Given the alias surfaces, the same pass also
detects each document's mentions (stage 2's rule, ``stage2.span_mentions``)
over the spans it just retained, so on the KG path a document crosses into
Python once.

Scale design (SURVEY.md §3/§4):

* **A pure map, spread over the cores first when the input is narrow.**
  Each document's fold is self-contained — no ``groupBy``/``posexplode``-
  then-regroup — so on an input with a split per core stage 1 is one map,
  and parallelism comes from the scan's splits.  But the fold costs ~100x
  a columnar scan per input byte, and a row group is the smallest unit a
  parquet scan splits by, so no split setting spreads a one-row-group
  file.  An input with fewer partitions than ``defaultParallelism`` and at
  least ``SPREAD_MIN_DOCS`` documents is therefore hash-partitioned on
  ``doc_id`` into ``FOLD_TASKS_PER_CORE`` x ``defaultParallelism`` tasks
  first (``spread_by_doc``).  Measured on 4 cores with a 4,000-doc
  generator corpus (one row group): without the exchange the fold ran in
  one scan task of two, at CPU utilisation 0.34 and 3.7 s; spread into 8
  tasks it runs at 0.86 and 1.9 s, exchange included.  Below ~1,000 docs
  the exchange, and every extra worker's alias automaton build, cost more
  than they save (500 docs: 0.6 s in one task, 1.0 s spread).  Hashing on
  ``doc_id`` keeps the partitioning a function of the data, so a retried
  task sees the same documents without the local sort that a round-robin
  ``repartition`` adds for retry determinism.
* **Arrow batching, no per-row Python.**  ``mapInArrow`` moves docs
  executor→Python in Arrow record batches; the only Python work is the fold
  itself (the reference's algorithm is inherently per-document, exactly like
  the reference's own single-pass SAX handler, R:733-765).
* **Per-document error isolation.**  A document the fold cannot process
  yields an empty extraction (and no mentions), not a failed task.
* **Column pruning.** The UDF declares only (doc_id, spans); Catalyst's
  nested-schema pruning keeps the parquet scan minimal.
"""

from __future__ import annotations

import logging
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, IntegerType, StringType, StructField,
                               StructType)

from .readability import Settings, extract
from .stage2 import MENTION_TYPE, broadcast_matcher, span_mentions

# fold tasks per core: enough that a straggler task is a small share of
# the stage, few enough that per-task overhead stays negligible
FOLD_TASKS_PER_CORE = 2
# below this many documents the fold of a narrow input runs in one task:
# the exchange costs ~0.5 s and a worker's alias automaton build, the
# fold ~1 ms per document (crossover measured at ~1,000 docs on 4 cores)
SPREAD_MIN_DOCS = 1000

SPAN_TYPE = StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
])

DOCUMENTS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(SPAN_TYPE)),
])

EXTRACTION_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("title", StringType()),
    StructField("next_page", StringType()),
    StructField("text_length", IntegerType()),
    StructField("score", IntegerType()),
    StructField("retained_spans", ArrayType(SPAN_TYPE)),
    StructField("text", StringType()),   # Article.getText  (R:789-793)
    StructField("html", StringType()),   # Article.getHTML  (R:799-803)
])

# extract_documents(..., surfaces=...): the extraction plus its mentions
FUSED_SCHEMA = StructType(EXTRACTION_SCHEMA.fields + [
    StructField("mentions", ArrayType(MENTION_TYPE))])

_EMPTY_EXTRACTION = {"title": "", "next_page": "", "text_length": 0,
                     "score": 0, "retained_spans": [], "text": "",
                     "html": ""}


def _unpack_spans_batch(batch, spans_col: str = "spans"):
    """Decompose an Arrow batch's array<struct> column into flat Python
    lists + per-doc offsets WITHOUT per-span dict materialization (the
    pandas path builds a dict per span — ~3x slower than the fold itself).
    """
    import numpy as np
    doc_ids = batch.column("doc_id").to_pylist()
    spans = batch.column(spans_col)
    lengths = np.asarray([s if s is not None else 0
                          for s in _pc().list_value_length(spans).to_pylist()],
                         dtype=np.int64)
    flat = spans.flatten()
    # defensive null coercion: the schema allows nulls (e.g. JSONL rows
    # missing a field); one malformed span must not fail the whole task
    kinds = ["" if k is None else k for k in flat.field("kind").to_pylist()]
    texts = ["" if t is None else t for t in flat.field("text").to_pylist()]
    refs = ["" if r is None else r
            for r in flat.field("media_ref").to_pylist()]
    offs = [-1 if o is None else o
            for o in flat.field("offset").to_pylist()]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    return doc_ids, kinds, texts, refs, offs, bounds


def _pc():
    import pyarrow.compute as pc
    return pc


def _extract_arrow_batches(batches, settings: Settings,
                           include_renders: bool = True, pattern=None):
    """Fold each document of each batch; with an alias ``pattern``, also
    emit the mentions found in its retained spans."""
    import pyarrow as pa
    span_t = pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())])
    fields = [
        ("doc_id", pa.string()),
        ("title", pa.string()),
        ("next_page", pa.string()),
        ("text_length", pa.int32()),
        ("score", pa.int32()),
        ("retained_spans", pa.list_(span_t)),
        ("text", pa.string()),
        ("html", pa.string()),
    ]
    mention_t = pa.struct([
        ("surface", pa.string()), ("span_offset", pa.int32()),
        ("start", pa.int32())])
    if pattern is not None:
        fields.append(("mentions", pa.list_(mention_t)))
    out_schema = pa.schema(fields)
    for batch in batches:
        doc_ids, kinds, texts, refs, offs, bounds = _unpack_spans_batch(batch)
        titles, nexts, tlens, scores = [], [], [], []
        art_texts, art_htmls = [], []
        # retained spans (and mentions) are assembled as FLAT columns + list
        # offsets and turned into a ListArray(StructArray) directly — the
        # former dict-per-span list comprehension (then pa.array()
        # re-parsing every dict) was ~30% of the whole stage wall on top of
        # the fold
        r_kinds: list = []
        r_texts: list = []
        r_refs: list = []
        r_offs: list = []
        r_bounds = [0]
        m_surfs: list = []
        m_offs: list = []
        m_starts: list = []
        m_bounds = [0]
        for i in range(len(doc_ids)):
            s, e = bounds[i], bounds[i + 1]
            try:
                rec = extract(zip(kinds[s:e], texts[s:e], refs[s:e],
                                  offs[s:e]),
                              settings, renders=include_renders)
            except Exception:
                # malformed span stream (an unknown kind, a stray close
                # before any open, ...): per-document error isolation — one
                # bad doc must not fail a 10^12-doc job; emit an empty
                # extraction (score 0, nothing retained, no mentions)
                logging.getLogger(__name__).warning(
                    "document %r: fold failed, emitting an empty "
                    "extraction", doc_ids[i], exc_info=True)
                rec = _EMPTY_EXTRACTION
            titles.append(rec["title"])
            nexts.append(rec["next_page"])
            tlens.append(rec["text_length"])
            scores.append(rec["score"])
            for k, t, m, o in rec["retained_spans"]:
                r_kinds.append(k)
                r_texts.append(t)
                r_refs.append(m)
                r_offs.append(int(o))
                if pattern is not None:
                    for surface, start in span_mentions(k, t, pattern):
                        m_surfs.append(surface)
                        m_offs.append(int(o))
                        m_starts.append(start)
            r_bounds.append(len(r_kinds))
            m_bounds.append(len(m_surfs))
            art_texts.append(rec["text"])
            art_htmls.append(rec["html"])
        columns = [
            pa.array(doc_ids, pa.string()),
            pa.array(titles, pa.string()),
            pa.array(nexts, pa.string()),
            pa.array(tlens, pa.int32()),
            pa.array(scores, pa.int32()),
            _list_of_structs(r_bounds, span_t,
                             [r_kinds, r_texts, r_refs, r_offs]),
            pa.array(art_texts, pa.string()),
            pa.array(art_htmls, pa.string()),
        ]
        if pattern is not None:
            columns.append(_list_of_structs(m_bounds, mention_t,
                                            [m_surfs, m_offs, m_starts]))
        yield pa.RecordBatch.from_arrays(columns, schema=out_schema)


def _list_of_structs(bounds, struct_t, flat_columns):
    """ListArray(StructArray) from flat per-field lists plus list offsets."""
    import pyarrow as pa
    return pa.ListArray.from_arrays(
        pa.array(bounds, pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(col, struct_t.field(i).type)
             for i, col in enumerate(flat_columns)],
            fields=list(struct_t)))


def spread_by_doc(df: DataFrame) -> DataFrame:
    """The input of a per-document Python pass, spread over the cores: a
    batch ``df`` with fewer partitions than ``defaultParallelism`` (one row
    group, a ``limit()``, a one-partition cache) and at least
    ``SPREAD_MIN_DOCS`` rows is hash-partitioned on ``doc_id`` into
    ``FOLD_TASKS_PER_CORE`` x ``defaultParallelism`` partitions.  Any other
    input is returned as it is, so the pass stays a pure map."""
    if df.isStreaming:
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions() >= cores
            or df.limit(SPREAD_MIN_DOCS).count() < SPREAD_MIN_DOCS):
        return df
    return df.repartition(FOLD_TASKS_PER_CORE * cores, "doc_id")


def explode_retained(extractions: DataFrame) -> DataFrame:
    """Re-emit retained spans as rows — the analog of the reference's
    getEvents replay (R:712-723): (doc_id, pos, kind, text, media_ref,
    offset), document order carried by (doc_id, pos)."""
    from pyspark.sql import functions as F
    return (extractions
            .select("doc_id",
                    F.posexplode("retained_spans").alias("pos", "s"))
            .select("doc_id", "pos", F.col("s.kind").alias("kind"),
                    F.col("s.text").alias("text"),
                    F.col("s.media_ref").alias("media_ref"),
                    F.col("s.offset").alias("offset")))


def extract_documents(documents: DataFrame,
                      settings: Optional[Settings] = None,
                      include_renders: bool = True,
                      surfaces=None) -> DataFrame:
    """documents(doc_id, spans) -> extractions (EXTRACTION_SCHEMA), or
    FUSED_SCHEMA — the extraction plus its ``mentions`` — when the alias
    ``surfaces`` are given.

    Uses ``mapInArrow`` (not ``mapInPandas``): the spans column is consumed
    straight from the Arrow buffers, skipping the pandas dict-per-struct
    conversion that would otherwise dominate the stage."""
    settings = settings or Settings.shipped()
    matcher = (None if surfaces is None
               else broadcast_matcher(documents.sparkSession, surfaces))

    def fn(batches):
        pattern = None if matcher is None else matcher()
        return _extract_arrow_batches(batches, settings, include_renders,
                                      pattern)

    return spread_by_doc(documents.select("doc_id", "spans")).mapInArrow(
        fn, schema=EXTRACTION_SCHEMA if matcher is None else FUSED_SCHEMA)
