"""Stage-1 distributed extraction must equal the Node-oracle golden
extractions exactly — the span-equality suite running through Spark."""

import json
import os
from collections import Counter

import pytest

GOLDEN = os.path.join(os.path.dirname(__file__), "..", "data", "golden",
                      "extractions.jsonl")


@pytest.fixture(scope="module")
def golden_shipped():
    recs = {}
    with open(GOLDEN) as f:
        for line in f:
            r = json.loads(line)
            if r["config"] == "shipped":
                recs[r["doc_id"]] = r
    return recs


def test_stage1_matches_oracle(spark, corpus_parquet, golden_shipped):
    from recrun_spark.stage1 import extract_documents
    docs = spark.read.parquet(corpus_parquet)
    out = extract_documents(docs).collect()
    assert len(out) == len(golden_shipped) == 200
    bad = []
    for row in out:
        ref = golden_shipped[row["doc_id"]]
        mine = [[s["kind"], s["text"], s["media_ref"], s["offset"]]
                for s in row["retained_spans"]]
        if mine != ref["retained_spans"]:
            bad.append((row["doc_id"], "spans"))
        for k in ("title", "next_page", "text_length", "score", "text",
                  "html"):
            if row[k] != ref[k]:
                bad.append((row["doc_id"], k))
    assert not bad, bad[:5]


def test_stage1_determinism_across_partitionings(spark, corpus_parquet):
    """North-rule determinism: N vs 4N parallelism yields identical output."""
    from recrun_spark.stage1 import extract_documents
    docs = spark.read.parquet(corpus_parquet)
    a = sorted(map(tuple, extract_documents(docs.repartition(2))
                   .select("doc_id", "score", "text_length").collect()))
    b = sorted(map(tuple, extract_documents(docs.repartition(16))
                   .select("doc_id", "score", "text_length").collect()))
    assert a == b


def test_spread_by_doc_spreads_only_narrow_inputs(spark, corpus_parquet,
                                                 monkeypatch):
    """A batch input with fewer partitions than the cores and at least
    SPREAD_MIN_DOCS documents is doc_id-hash spread before the fold; a
    wide or a small input stays a pure map; the output is the same."""
    from recrun_spark import stage1

    def plan_and_rows(docs):
        ex = stage1.extract_documents(docs)
        plan = ex._jdf.queryExecution().executedPlan().toString()
        return plan, sorted(map(tuple, ex.select(
            "doc_id", "score", "text_length", "retained_spans").collect()))

    docs = spark.read.parquet(corpus_parquet)
    narrow, wide = docs.repartition(2), docs.repartition(16)
    small_plan, rows = plan_and_rows(narrow)
    assert "Exchange hashpartitioning(doc_id" not in small_plan
    monkeypatch.setattr(stage1, "SPREAD_MIN_DOCS", 50)
    cores = spark.sparkContext.defaultParallelism
    spread_plan, spread_rows = plan_and_rows(narrow)
    assert "Exchange hashpartitioning(doc_id" in spread_plan
    assert (f", {stage1.FOLD_TASKS_PER_CORE * cores}), REPARTITION_BY_NUM"
            in spread_plan)
    wide_plan, wide_rows = plan_and_rows(wide)
    assert "Exchange hashpartitioning(doc_id" not in wide_plan
    assert rows == spread_rows == wide_rows


def test_explode_retained_order(spark, corpus_parquet):
    """getEvents-replay analog: posexplode preserves document order."""
    from recrun_spark.stage1 import explode_retained, extract_documents
    docs = spark.read.parquet(corpus_parquet).limit(20)
    rows = (explode_retained(extract_documents(docs))
            .orderBy("doc_id", "pos").collect())
    assert rows, "no retained spans"
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["pos"], r["offset"]))
    for doc_id, seq in by_doc.items():
        poss = [p for p, _ in seq]
        offs = [o for _, o in seq]
        assert poss == list(range(len(poss))), doc_id
        assert offs == sorted(offs), doc_id


def test_stage1_isolates_failing_document(spark, tmpdir_path):
    """A document the fold raises on (here AttributeError: a stray close
    before any open) gets an empty extraction with no mentions; the task,
    and every other document's row, survive."""
    import pyarrow.parquet as pq

    from recrun_spark.fixtures.aliases import make_aliases
    from recrun_spark.fixtures.generator import corpus_to_arrow, make_corpus
    from recrun_spark.readability import extract
    from recrun_spark.stage1 import extract_documents
    bad = [("close:div", "", "", 0), ("text", "Ardenfell Logistics", "", 1)]
    with pytest.raises(AttributeError):
        extract(bad)
    corpus = make_corpus(20) + [("doc_bad", bad)]
    path = os.path.join(tmpdir_path, "documents.parquet")
    pq.write_table(corpus_to_arrow(corpus), path)
    surfaces = sorted({r[0] for r in make_aliases(42)})
    rows = {r["doc_id"]: r for r in extract_documents(
        spark.read.parquet(path), surfaces=surfaces).collect()}
    assert sorted(rows) == sorted(d for d, _ in corpus)
    b = rows["doc_bad"]
    assert (b["title"], b["score"], b["text_length"], b["retained_spans"],
            b["mentions"]) == ("", 0, 0, [], [])
    assert all(rows[d]["retained_spans"] for d, _ in corpus[:20])


@pytest.mark.parametrize("n_surfaces", [40, None], ids=["regex", "trie"])
def test_fused_mentions_equal_detect_mentions(spark, corpus_parquet,
                                              n_surfaces):
    """The mentions the stage-1 pass fuses in equal detect_mentions over
    the same extractions, as row multisets, for both automaton kinds."""
    from recrun_spark.fixtures.aliases import make_aliases
    from recrun_spark.linking import (TRIE_MIN_SURFACES, TrieMatcher,
                                      build_alias_pattern)
    from recrun_spark.stage1 import extract_documents
    from recrun_spark.stage2 import detect_mentions, explode_mentions
    surfaces = sorted({r[0] for r in make_aliases(42)})[:n_surfaces]
    trie = n_surfaces is None
    assert (len(surfaces) >= TRIE_MIN_SURFACES) == trie
    assert isinstance(build_alias_pattern(surfaces), TrieMatcher) == trie
    docs = spark.read.parquet(corpus_parquet)
    fused = Counter(map(tuple, explode_mentions(
        extract_documents(docs, surfaces=surfaces)).collect()))
    stored = Counter(map(tuple, detect_mentions(
        extract_documents(docs), surfaces).collect()))
    assert fused == stored
    assert fused
