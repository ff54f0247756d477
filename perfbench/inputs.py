"""Seeded benchmark inputs and the pure-Python reference triple set.

Everything a workload feeds the program is generated here from ``--seed``
and cached under ``perfbench/.work/cache/<key>/``, keyed by the generator's
``GEN_VERSION``, this module's ``BENCH_GEN_VERSION``, the workload kind,
seed, size and skew.  Generation and the reference computation run before
any timed work and count toward no metric.

Reference: ``readability.extract`` then ``linking.build_link_map`` /
``canonical_map`` / ``triples_for_doc`` per document, single-node.  The
triple set is summarised by its size and an order-independent digest (the
sum of a 64-bit hash of every triple, mod 2^64), so a run's output can be
compared without keeping the set.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing
import os
import random
import shutil
import sys

BENCH_GEN_VERSION = 5
_MASK = (1 << 64) - 1

# kg_dictionary: entity groups sharing one strong alias form cliques
# (g*(g-1)/2 same-as edges each); bridge aliases chain consecutive groups
# into components of _CHAIN groups; some fixture entities join a synthetic
# component.  Synthetic ids start with "P", so they sort below every
# fixture id ("Q...") and a joined fixture entity's canonical id is
# synthetic: a wrong component changes the triples.
_GROUP_SIZE = 10
_CHAIN = 2
_WORDS = ("alder", "birch", "cedar", "dogwood", "elm", "fir", "ginkgo",
          "hazel", "ivy", "juniper", "kapok", "larch", "maple", "nutmeg",
          "oak", "pine")


def triple_hash(subj: str, pred: str, obj: str, doc_id: str) -> int:
    key = "\x1f".join((subj, pred, obj, doc_id)).encode("utf-8")
    return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big")


def summarize(triples) -> dict:
    """{"count", "digest"} of an iterable of (subj, pred, obj, doc_id);
    duplicates count twice, so a duplicated row is a mismatch."""
    count = digest = 0
    for t in triples:
        count += 1
        digest = (digest + triple_hash(*t)) & _MASK
    return {"count": count, "digest": digest}


def merge(parts) -> dict:
    count = digest = 0
    for p in parts:
        count += p["count"]
        digest = (digest + p["digest"]) & _MASK
    return {"count": count, "digest": digest}


def make_dictionary(seed: int, groups: int):
    """Fixture aliases plus a synthetic dictionary whose same-as graph has
    about ``groups * 45`` edges (cliques of 10, chained in pairs).

    Bridges join the last member of a group to the first of the next.
    The id order over these positions is one fixed shuffle, the same for
    every seed, so the star loop needs the same number of rounds whatever
    the seed; the seed picks the id values and the priors.  Every third
    fixture entity joins the end of chain k by a strong ``link <k>``
    alias."""
    from recrun_spark.fixtures.aliases import make_aliases
    rng = random.Random(seed)
    rows = list(make_aliases())
    per_chain = _GROUP_SIZE * _CHAIN
    n = groups * _GROUP_SIZE
    values = sorted(rng.sample(range(10_000_000), n))
    rank = list(range(n))
    random.Random(0).shuffle(rank)
    ids = [f"P{values[r]:07d}" for r in rank]
    for gi in range(groups):
        members = ids[gi * _GROUP_SIZE:(gi + 1) * _GROUP_SIZE]
        shared = f"{_WORDS[gi % 16]} {_WORDS[gi // 16 % 16]} group {gi}"
        for m in members:
            rows.append((shared, m, round(0.8 + 0.2 * rng.random(), 3)))
            rows.append((f"{m.lower()} unit", m, 0.95))
        if gi % _CHAIN:
            rows.append((f"bridge {gi}", ids[gi * _GROUP_SIZE - 1], 0.9))
            rows.append((f"bridge {gi}", members[0], 0.9))
    fixture = sorted({e for _, e, _ in rows if e.startswith("Q")})
    for k, eid in enumerate(fixture[::3]):
        rows.append((f"link {k}", eid, 0.9))
        rows.append((f"link {k}", ids[k * per_chain + per_chain - 1], 0.9))
    return rows


def _docs_chunk(args):
    ixs, seed, skew = args
    from recrun_spark.fixtures.aliases import head_alias, make_aliases
    from recrun_spark.fixtures.generator import make_doc
    surfaces = sorted({r[0] for r in make_aliases(seed)})
    return [(f"doc{ix:06d}", make_doc(ix, seed, surfaces, head_alias(),
                                      skew=skew)) for ix in ixs]


_REF: dict = {}


def _reference_init(alias_rows):
    """Pool initializer: build the matcher and maps once per worker."""
    from recrun_spark.linking import (build_alias_pattern, build_link_map,
                                      canonical_map)
    from recrun_spark.readability import Settings
    _REF.update(pattern=build_alias_pattern([r[0] for r in alias_rows]),
                link_map=build_link_map(alias_rows),
                canon=canonical_map(alias_rows),
                settings=Settings.shipped())


def _reference_chunk(corpus):
    from recrun_spark.linking import triples_for_doc
    from recrun_spark.readability import extract
    out = []
    for doc_id, spans in corpus:
        rec = extract(spans, _REF["settings"], renders=False)
        out.extend(triples_for_doc(doc_id, rec["retained_spans"],
                                   rec["next_page"], _REF["pattern"],
                                   _REF["link_map"], _REF["canon"]))
    return summarize(out)


def _chunks(seq, n):
    step = max(1, -(-len(seq) // n))
    return [seq[i:i + step] for i in range(0, len(seq), step)]


def _pool(procs, initializer=None, initargs=()):
    return multiprocessing.get_context("spawn").Pool(
        procs, initializer=initializer, initargs=initargs)


def generate(n_docs: int, seed: int, skew: bool, procs: int):
    """The generator's first ``n_docs`` documents (make_corpus order)."""
    with _pool(procs) as pool:
        parts = pool.map(_docs_chunk, [(c, seed, skew) for c in
                                       _chunks(list(range(n_docs)), 16)])
    return [d for part in parts for d in part]


def reference(corpus, alias_rows, procs: int) -> dict:
    """Reference summary of the triples of ``corpus`` under ``alias_rows``."""
    with _pool(procs, _reference_init, (alias_rows,)) as pool:
        return merge(pool.map(_reference_chunk, _chunks(corpus, 16)))


def _write_corpus(path, corpus):
    """The layout of ``generator.write_corpus_parquet``: pyarrow's defaults,
    so a corpus of these sizes is one row group, and stage 1 scans it as
    one task whatever the split settings."""
    import pyarrow.parquet as pq

    from recrun_spark.fixtures.generator import corpus_to_arrow
    pq.write_table(corpus_to_arrow(corpus), path)


def _write_aliases(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "alias": pa.array([r[0] for r in rows], pa.string()),
        "entity_id": pa.array([r[1] for r in rows], pa.string()),
        "prior": pa.array([float(r[2]) for r in rows], pa.float64()),
    }), path)


def prepare(cache_root: str, workload: dict, seed: int,
            procs: int) -> dict:
    """Generate (or reuse) a workload's inputs; returns
    {"dir", "corpus", "aliases" or None, "docs", "reference",
    "window_reference"}.  ``window_reference`` covers the corpus's first
    ``2 * window_docs`` documents under the fixture dictionary: the docs
    the traced run's two incremental windows process."""
    from recrun_spark.fixtures.aliases import make_aliases
    from recrun_spark.fixtures.generator import GEN_VERSION
    docs, skew, groups = workload["docs"], workload["skew"], workload["groups"]
    key = (f"g{GEN_VERSION}.b{BENCH_GEN_VERSION}.{workload['kind']}"
           f".s{seed}.n{docs}.k{int(skew)}.d{groups}"
           f".w{workload['window_docs']}")
    final = os.path.join(cache_root, key)
    meta_path = os.path.join(final, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        corpus = generate(docs, seed, skew, procs)
        alias_rows = (make_dictionary(seed, groups) if groups
                      else make_aliases())
        meta = {"docs": docs,
                "reference": reference(corpus, alias_rows, procs),
                "window_reference": reference(
                    corpus[:2 * workload["window_docs"]], make_aliases(),
                    procs)}
        _write_corpus(os.path.join(tmp, "corpus.parquet"), corpus)
        if groups:
            _write_aliases(os.path.join(tmp, "aliases.parquet"), alias_rows)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    with open(meta_path) as f:
        meta = json.load(f)
    aliases = os.path.join(final, "aliases.parquet")
    return {"dir": final,
            "corpus": os.path.join(final, "corpus.parquet"),
            "aliases": aliases if os.path.exists(aliases) else None,
            **meta}


def read_triples(path: str):
    """Rows (subj, pred, obj, doc_id) of a pred-partitioned triples dir
    (stage-4 layout) or of a streaming sink's batch=<id>/ dirs."""
    import pyarrow.dataset as ds
    table = ds.dataset(path, format="parquet",
                       partitioning="hive").to_table()
    cols = [table.column(c).to_pylist() for c in
            ("subj", "pred", "obj", "doc_id")]
    return zip(*cols)


def main() -> None:
    """``prepare`` in a process of its own: the spawn pool's helper
    processes (workers, multiprocessing's resource tracker) end with it."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--cache", required=True)
    ap.add_argument("--workload", required=True, help="JSON workload spec")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--procs", type=int, required=True)
    args = ap.parse_args()
    print(json.dumps(prepare(args.cache, json.loads(args.workload),
                             args.seed, args.procs)))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    main()
