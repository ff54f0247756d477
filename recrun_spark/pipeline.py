"""End-to-end KG-construction pipeline with batch-level checkpoint/resume.

``run_pipeline(spark, input_path, out_dir)`` executes:

  stage1_extract   documents → extractions + mentions  (one fused Python
                                                        pass; a narrow input
                                                        is doc_id-hash spread
                                                        first)
  stage2_mentions  mentions → linked                   (JVM explode +
                                                        broadcast dict join)
  stage3_canonical aliases → canonical map             (driver union-find or
                                                        large/small-star CC)
  stage4_triples   → triples, partitioned by pred      (JVM rules, duplicate-
                                                        free by construction)

Each stage writes ``<out_dir>/<stage>/`` via TableIO with a ``_MANIFEST.json``
completion marker that records the digest of the alias dictionary it was
built from: stage 1 of its surfaces, stages 2-4 of its (alias, entity_id,
prior) rows.  A re-run skips a stage whose manifest is complete and carries
the current digest; once one stage is rebuilt, every later stage is rebuilt
too, since it consumes that stage's output (kill-and-resume reproduces
identical triples — tests/test_stages_kg.py).

CLI:  python -m recrun_spark.pipeline --input spans.parquet --out /tmp/kg
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from .io.tableio import read_manifest, read_table, write_table
from .readability import Settings
from .stage1 import extract_documents
# detect_mentions is not called here (stage 1 detects the mentions); it
# stays a name of this module because perfbench/tracing.py wraps it here
from .stage2 import (_dictionary_digest, _surface_digest,  # noqa: F401
                     detect_mentions, explode_mentions, link_mentions,
                     load_aliases)
from .stage3 import canonicalize
from .stage4 import assemble_triples

STAGES = ("stage1_extract", "stage2_mentions", "stage3_canonical",
          "stage4_triples")


def _stage(spark: SparkSession, out_dir: str, name: str, build,
           inputs: dict, partition_by=None, lineage_key: str = "doc_id",
           force: bool = False) -> tuple[DataFrame, bool]:
    """(the stage's stored table, whether it was built now): a complete
    manifest that records every item of ``inputs`` (the digests of what
    the stage was built from) is reused unless ``force``."""
    path = os.path.join(out_dir, name)
    m = None if force else read_manifest(path)
    if m is not None and all(m.get(k) == v for k, v in inputs.items()):
        return read_table(spark, path), False
    write_table(build(), path, partition_by=partition_by, stage=name,
                lineage_key=lineage_key, meta=inputs)
    return read_table(spark, path), True


def run_pipeline(spark: SparkSession, input_path: str, out_dir: str,
                 aliases_df: DataFrame | None = None,
                 settings: Settings | None = None,
                 force: bool = False,
                 include_renders: bool = True) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.time()
    aliases = aliases_df if aliases_df is not None else load_aliases(spark)
    dictionary = (aliases.select("alias", "entity_id", "prior").toArrow()
                  .to_pydict())
    surfaces = sorted(set(dictionary["alias"]))
    # stage 1 depends on the surfaces only; stages 2-4 on the whole
    # dictionary (entity ids and priors pick the links and the same-as
    # graph)
    surface_inputs = {
        "surface_digest": _surface_digest(tuple(surfaces)).hex()}
    dictionary_inputs = {"dictionary_digest": _dictionary_digest(zip(
        dictionary["alias"], dictionary["entity_id"],
        dictionary["prior"])).hex()}

    documents = spark.read.parquet(input_path)

    # a stage built now forces every later stage: each consumes its output
    extractions, force = _stage(
        spark, out_dir, "stage1_extract",
        lambda: extract_documents(documents, settings,
                                  include_renders=include_renders,
                                  surfaces=surfaces),
        surface_inputs, force=force)

    linked, force = _stage(
        spark, out_dir, "stage2_mentions",
        lambda: link_mentions(explode_mentions(extractions), aliases),
        dictionary_inputs, force=force)

    canonical, force = _stage(
        spark, out_dir, "stage3_canonical",
        lambda: canonicalize(aliases),
        dictionary_inputs, lineage_key="entity_id", force=force)

    built4 = {}

    def _build4():
        df = assemble_triples(extractions, linked, canonical)
        built4["df"] = df
        return df

    triples, _ = _stage(
        spark, out_dir, "stage4_triples", _build4, dictionary_inputs,
        partition_by=["pred"], force=force)
    if built4.get("df") is not None:
        from .operators import release_caches
        release_caches(built4["df"])

    # doc count comes from the stage-1 manifest lineage (one extraction row
    # per document) — NOT an upfront documents.count(), which would be a
    # full extra scan of the input at 10^12-doc scale
    stage1_manifest = read_manifest(os.path.join(out_dir, "stage1_extract"))
    summary = {
        "input": input_path,
        "docs": (stage1_manifest or {}).get("rows"),
        "triples": triples.count(),
        "wall_sec": round(time.time() - t0, 3),
        "stages": {s: read_manifest(os.path.join(out_dir, s)) for s in STAGES},
    }
    with open(os.path.join(out_dir, "_PIPELINE.json"), "w") as f:
        json.dump(summary, f, indent=1, default=str)
    return summary


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--no-renders", action="store_true",
                    help="skip text/html renderings (KG-only outputs; "
                         "halves fold cost and most of stage-1 write bytes)")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    from .session import get_spark
    spark = get_spark("recrun_pipeline", cpus=args.cpus)
    summary = run_pipeline(spark, args.input, args.out, force=args.force,
                           include_renders=not args.no_renders)
    print(json.dumps({k: v for k, v in summary.items() if k != "stages"}))


if __name__ == "__main__":
    main()
