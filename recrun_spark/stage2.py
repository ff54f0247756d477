"""Stage 2 — mention detection + entity-link scoring.

Inputs: stage-1 extractions (doc_id, retained_spans, mentions) + the alias
dictionary (alias, entity_id, prior).

Scale design:

* **Detection runs inside the stage-1 pass.**  ``extract_documents(...,
  surfaces=...)`` applies the alias automaton to each document's retained
  spans while they are still in the fold's Python worker and emits them as
  a ``mentions`` array column; ``explode_mentions`` turns that column into
  mention rows JVM-side, so the pipeline's retained spans cross into
  Python once.  ``detect_mentions`` is the same rule (``span_mentions``) as
  a ``mapInArrow`` of its own, for callers that start from stored
  extractions.  Either way the automaton is built once per worker from a
  Spark *broadcast* of the alias surfaces (``broadcast_matcher``) — not a
  join against exploded token n-grams, which at 10^12 docs would shuffle
  orders of magnitude more rows than it keeps.
* **Entity-link scoring is a broadcast hash join** against the alias
  dictionary (``F.broadcast``), then a ``max_by``-style argmax per mention
  (max prior, ties → min entity_id) — all JVM-side.
* **Skew**: the head alias (>30% of mentions) is harmless under a broadcast
  join (no shuffle by alias).  If the dictionary outgrows the broadcast
  threshold, ``salted_join`` (operators.py) provides the repartition-join
  path with key salting; stage2 switches when ``broadcast_limit`` is hit.
"""

from __future__ import annotations

import hashlib
import os
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, StringType,
                               StructField, StructType)

from .linking import TrieMatcher, build_alias_pattern, find_mentions
from .operators import arrow_frame, salted_join

# worker-local matcher cache: Python workers are reused across tasks
# (spark.python.worker.reuse), so a large-dictionary TrieMatcher is built
# once per worker process instead of once per task.  Keyed by a DIGEST of
# the surface set (the key must not pin the full surface tuple of evicted
# entries) and bounded by estimated FOOTPRINT, not entry count — a
# 100k-surface trie is tens of MB, and N tries x many workers per node is
# real memory at cluster scale.
_PATTERN_CACHE: OrderedDict = OrderedDict()  # digest -> (pattern, est_bytes)
_PATTERN_CACHE_MAX_BYTES = int(os.environ.get(
    "RECRUN_MATCHER_CACHE_BYTES", str(256 << 20)))


def _estimate_matcher_bytes(surfaces_tuple: tuple, pattern) -> int:
    """Footprint estimate: a dict-of-dicts trie costs ~200 bytes per stored
    character (node dict + entry + key str, CPython 3.11 measurements); a
    compiled regex alternation stores the program compactly (~10 B/char)."""
    chars = sum(len(s) for s in surfaces_tuple)
    per_char = 200 if isinstance(pattern, TrieMatcher) else 10
    return 4096 + chars * per_char


def _surface_digest(surfaces_tuple: tuple) -> bytes:
    """Injective digest of a surface tuple: each component is length-
    prefixed before hashing, so no choice of surface contents (embedded
    NULs, separator look-alikes) can make two distinct dictionaries
    collide to one cache key — a collision would silently return the
    WRONG matcher."""
    h = hashlib.sha1()
    for s in surfaces_tuple:
        b = s.encode("utf-8")
        h.update(len(b).to_bytes(4, "big"))
        h.update(b)
    return h.digest()


def _dictionary_digest(rows) -> bytes:
    """Injective, order-independent digest of an alias dictionary's
    (alias, entity_id, prior) rows: the fields of the sorted rows go
    through ``_surface_digest`` as their ``repr`` (a None, a string and a
    float stay distinct, and a float's repr round-trips)."""
    return _surface_digest(tuple(
        field for row in sorted(tuple(map(repr, r)) for r in rows)
        for field in row))


def _cached_pattern(surfaces_tuple: tuple):
    key = _surface_digest(surfaces_tuple)
    hit = _PATTERN_CACHE.pop(key, None)
    if hit is None:
        pattern = build_alias_pattern(surfaces_tuple)
        hit = (pattern, _estimate_matcher_bytes(surfaces_tuple, pattern))
        # evict least-recently-used (front = oldest insertion = LRU, since
        # hits re-insert at the back) until the newcomer fits the budget;
        # an oversized single matcher still caches alone (budget of one)
        total = sum(sz for _, sz in _PATTERN_CACHE.values())
        while _PATTERN_CACHE and total + hit[1] > _PATTERN_CACHE_MAX_BYTES:
            _, (_, sz) = _PATTERN_CACHE.popitem(last=False)
            total -= sz
    _PATTERN_CACHE[key] = hit
    return hit[0]


def broadcast_matcher(spark: SparkSession, surfaces):
    """A worker-side callable that returns the alias automaton for
    ``surfaces``: the sorted surface set travels once as a Spark broadcast,
    and the automaton is built once per Python worker (``_cached_pattern``)."""
    bc = spark.sparkContext.broadcast(sorted(set(surfaces)))
    return lambda: _cached_pattern(tuple(bc.value))


def span_mentions(kind: str, text: str, pattern):
    """[(surface, start)] alias hits in one retained span: text spans only,
    an empty text has none (the mention rule of linking.triples_for_doc).
    The one detection rule of both the fused stage-1 pass and
    ``detect_mentions``."""
    if kind != "text" or not text:
        return ()
    return find_mentions(text, pattern)


# one mention of a document; extract_documents(..., surfaces=...) emits
# array<MENTION_TYPE> per document, detect_mentions one row per mention
MENTION_TYPE = StructType([
    StructField("surface", StringType()),
    StructField("span_offset", IntegerType()),
    StructField("start", IntegerType()),
])

MENTION_SCHEMA = StructType([StructField("doc_id", StringType())]
                            + MENTION_TYPE.fields)

ALIAS_SCHEMA = StructType([
    StructField("alias", StringType()),
    StructField("entity_id", StringType()),
    StructField("prior", DoubleType()),
])


def explode_mentions(extractions: DataFrame) -> DataFrame:
    """extractions(doc_id, mentions) -> mentions(MENTION_SCHEMA): the
    mentions the stage-1 pass detected, as rows — JVM-side, no Python."""
    return (extractions
            .select("doc_id", F.explode("mentions").alias("m"))
            .select("doc_id", "m.*"))


def detect_mentions(extractions: DataFrame, surfaces: list) -> DataFrame:
    """extractions(doc_id, retained_spans) -> mentions(MENTION_SCHEMA).

    Arrow-native map (``mapInArrow``) over stored extractions: spans are
    read from the Arrow buffers, and the alias automaton comes from
    ``broadcast_matcher``."""
    from .stage1 import _unpack_spans_batch, spread_by_doc
    matcher = broadcast_matcher(extractions.sparkSession, surfaces)

    def fn(batches):
        import pyarrow as pa
        out_schema = pa.schema([
            ("doc_id", pa.string()), ("surface", pa.string()),
            ("span_offset", pa.int32()), ("start", pa.int32())])
        pattern = matcher()
        for batch in batches:
            doc_ids, kinds, texts, _refs, offs, bounds = \
                _unpack_spans_batch(batch, "retained_spans")
            o_doc, o_surf, o_off, o_start = [], [], [], []
            for i in range(len(doc_ids)):
                for j in range(bounds[i], bounds[i + 1]):
                    for surface, start in span_mentions(kinds[j], texts[j],
                                                        pattern):
                        o_doc.append(doc_ids[i])
                        o_surf.append(surface)
                        o_off.append(int(offs[j]))
                        o_start.append(start)
            yield pa.RecordBatch.from_arrays(
                [pa.array(o_doc, pa.string()), pa.array(o_surf, pa.string()),
                 pa.array(o_off, pa.int32()), pa.array(o_start, pa.int32())],
                schema=out_schema)

    # ship only the spans the automaton consumes: span_mentions skips
    # every non-text/empty span anyway, so filtering the array JVM-side
    # is semantics-identical and cuts the Arrow transport (img/link/
    # header spans never cross the boundary); span_offset rides in the
    # struct, unaffected by the filter
    src = extractions.select(
        "doc_id",
        F.filter("retained_spans",
                 lambda s: (s["kind"] == "text") & (s["text"] != ""))
        .alias("retained_spans"))
    return spread_by_doc(src).mapInArrow(fn, schema=MENTION_SCHEMA)


def link_mentions(mentions: DataFrame, aliases: DataFrame,
                  broadcast_max_rows: int = 1_000_000,
                  salt_buckets: int = 16) -> DataFrame:
    """Join mentions to the alias dictionary and pick the best candidate
    per mention: max prior, ties -> min entity_id (linking.build_link_map).

    Returns (doc_id, surface, span_offset, start, entity_id, prior).
    """
    # argmax per alias is doc-independent: reduce the dictionary FIRST
    # (|aliases| rows), not per-mention (|mentions| rows) — at 10^12 docs the
    # dictionary-side reduction is free, the mention-side one is a shuffle.
    # Window argmax (not max_by) for the deterministic tiebreak that matches
    # linking.build_link_map: max prior, ties -> min entity_id.
    from pyspark.sql import Window
    w = (Window.partitionBy("alias")
         .orderBy(F.col("prior").desc(), F.col("entity_id").asc()))
    best = (aliases
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("alias", "entity_id", "prior"))

    if _estimate_small(aliases, broadcast_max_rows):
        joined = mentions.join(F.broadcast(best),
                               mentions["surface"] == best["alias"], "inner")
    else:
        joined = salted_join(mentions, best, "surface", "alias",
                             buckets=salt_buckets)
    return joined.select("doc_id", "surface", "span_offset", "start",
                         "entity_id", "prior")


def _estimate_small(df: DataFrame, max_rows: int) -> bool:
    # alias dictionaries are metadata-scale; a cheap bounded count suffices
    try:
        return df.limit(max_rows + 1).count() <= max_rows
    except Exception:
        return False


def load_aliases(spark: SparkSession, rows=None, seed: int = 42) -> DataFrame:
    from .fixtures.aliases import make_aliases
    rows = rows if rows is not None else make_aliases(seed)
    return arrow_frame(spark, {"alias": [a for a, _e, _p in rows],
                               "entity_id": [e for _a, e, _p in rows],
                               "prior": [float(p) for _a, _e, p in rows]},
                       ALIAS_SCHEMA)
