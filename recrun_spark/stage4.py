"""Stage 4 — triple assembly and partitioned materialization.

Implements the fixed triple rules of ``recrun_spark.linking`` as whole-
DataFrame operations (no Python in the hot path):

* ``mentioned_in``    (canonical entity, doc)
* ``co_mentioned_with`` (min, max) per distinct canonical pair per doc
* ``illustrated_by``  (canonical entity × retained img src) per doc
* ``next_page_of``    (next_page url, doc)

Scale notes:
* the canonical map is broadcast (|entities| rows);
* the per-doc distinct entities are persisted once and feed three rules;
* co-mentions come from one ``doc_id``-keyed aggregate into a sorted
  entity array per doc, whose i<j pairs are expanded row-locally — no
  entities×entities self-join;
* there is no triple-wide dedup: every rule's output is duplicate-free by
  construction and the four preds are disjoint;
* the sink partitions by ``pred`` (TableIO: Iceberg when configured,
  partitioned parquet + manifest otherwise) with per-partition lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRIPLE_COLS = ("subj", "pred", "obj", "doc_id")


def doc_entities(linked_mentions: DataFrame, canonical: DataFrame
                 ) -> DataFrame:
    """(doc_id, entity) — distinct canonical entities mentioned per doc."""
    return (linked_mentions
            .join(F.broadcast(canonical), "entity_id")
            .select("doc_id", F.col("canonical_id").alias("entity"))
            .distinct())


def assemble_triples(extractions: DataFrame, linked_mentions: DataFrame,
                     canonical: DataFrame) -> DataFrame:
    # ents feeds three branches (mentioned_in / co-mention self-join /
    # illustrated_by) — persist so the join+distinct runs once
    ents = doc_entities(linked_mentions, canonical).persist()

    mentioned_in = ents.select(
        F.col("entity").alias("subj"),
        F.lit("mentioned_in").alias("pred"),
        F.col("doc_id").alias("obj"),
        "doc_id")

    # co-mentions from the per-doc SORTED entity array, pairs expanded
    # row-locally — one doc-keyed aggregate instead of the former ents×ents
    # self-join (two exchanges + a sort-merge for pairs whose per-doc
    # fan-out is small and bounded; the array shape is the standard
    # inverted-index pair expansion).  sort_array + i<j indexing yields
    # exactly the a.entity < b.entity pairs, already distinct per doc.
    arr = (ents.groupBy("doc_id")
           .agg(F.sort_array(F.collect_set("entity")).alias("es"))
           .where(F.size("es") >= 2))
    co_mentioned = (arr
                    .select("doc_id", F.explode(F.flatten(F.transform(
                        F.sequence(F.lit(0), F.size("es") - 2),
                        lambda i: F.transform(
                            F.slice("es", i + 2, F.size("es")),
                            lambda y: F.struct(
                                F.get("es", i).alias("subj"),
                                y.alias("obj")))))).alias("p"))
                    .select(F.col("p.subj").alias("subj"),
                            F.lit("co_mentioned_with").alias("pred"),
                            F.col("p.obj").alias("obj"),
                            "doc_id"))

    # filter INSIDE the span array before exploding: non-img spans (the
    # overwhelming majority) never materialize as rows
    imgs = (extractions
            .select("doc_id", F.explode(F.filter(
                "retained_spans",
                lambda s: (s["kind"] == "img") & (s["media_ref"] != "")))
                .alias("s"))
            .select("doc_id", F.col("s.media_ref").alias("media_ref"))
            .distinct())
    illustrated = (ents.join(imgs, "doc_id")
                   .select(F.col("entity").alias("subj"),
                           F.lit("illustrated_by").alias("pred"),
                           F.col("media_ref").alias("obj"),
                           "doc_id"))

    next_page = (extractions
                 .where(F.col("next_page") != "")
                 .select(F.col("next_page").alias("subj"),
                         F.lit("next_page_of").alias("pred"),
                         F.col("doc_id").alias("obj"),
                         "doc_id")
                 .distinct())

    # no global dropDuplicates: every branch is duplicate-free by
    # construction (ents and imgs are DISTINCT frames, co-mention pairs
    # come i<j from a per-doc set, and the small next_page branch carries
    # its own distinct against duplicated input doc_ids), and the four
    # preds are disjoint — the former triple-wide dedup exchange shuffled
    # every output row to remove nothing.
    out = (mentioned_in
           .unionByName(co_mentioned)
           .unionByName(illustrated)
           .unionByName(next_page))
    # expose the persisted intermediate so long-lived sessions can release
    # it after materializing (pipeline.py and bench.py do)
    out._recrun_ents = ents
    return out
