"""One benchmark episode: a fresh process that starts a Spark session,
runs one operation and exits.  ``run.py`` starts it and reads its
``@@``-prefixed stdout lines; everything else the program prints is
passed through untouched.

  episode.py setup --cpus N
      session start and first job only (a set-up sample).
  episode.py cli --cpus N --input I --out O
      ``python -m recrun_spark.pipeline --cpus N --input I --out O``, with
      ``session.get_spark`` wrapped so the end of set-up is observable.
  episode.py dict --cpus N --input I --aliases A --out O
      ``run_pipeline(spark, I, O, aliases_df=<A>)`` on
      ``session.get_spark(cpus=N)``, in-process.
  episode.py trace --cpus N --input I [--aliases A | --cli-conf] --work W
                   --out O --window-docs K
      the traced run (perfbench/tracing.py).

Lines: ``@@READY {conf}`` once set-up is done (session built and a first
job that starts Python workers has finished); ``@@OP {"wall_s": ...}``
after the operation, timed in this process.
"""

from __future__ import annotations

import argparse
import json
import os
import runpy
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def emit(tag: str, payload: dict) -> None:
    print(f"@@{tag} {json.dumps(payload)}", flush=True)


def first_job(spark) -> None:
    """The smallest job that also starts the Python worker daemon."""
    spark.range(1, numPartitions=1).mapInArrow(
        lambda batches: batches, "id long").collect()


def ready(spark) -> None:
    first_job(spark)
    conf = spark.sparkContext.getConf()
    emit("READY", {"master": conf.get("spark.master", None),
                   "driver_memory": conf.get("spark.driver.memory", None),
                   "default_parallelism":
                       spark.sparkContext.defaultParallelism})


def start(cpus: int, extra_conf: dict | None = None):
    from recrun_spark.session import get_spark
    spark = get_spark("perfbench", cpus=cpus, extra_conf=extra_conf)
    ready(spark)
    return spark


def run_cli(cpus: int, argv: list) -> None:
    """The pipeline CLI with set-up made observable: the wrapped
    ``get_spark`` runs the first job and prints READY before returning."""
    import recrun_spark.session as session
    real = session.get_spark
    marks = {}

    def get_spark(*args, **kwargs):
        spark = real(*args, **kwargs)
        ready(spark)
        marks["t0"] = time.perf_counter()
        return spark

    session.get_spark = get_spark
    sys.argv = ["recrun_spark.pipeline", "--cpus", str(cpus), *argv]
    runpy.run_module("recrun_spark.pipeline", run_name="__main__",
                     alter_sys=True)
    emit("OP", {"wall_s": time.perf_counter() - marks["t0"]})


def run_dict(spark, input_path: str, aliases_path: str, out: str) -> None:
    from recrun_spark.pipeline import run_pipeline
    t0 = time.perf_counter()
    aliases = spark.read.parquet(aliases_path)
    summary = run_pipeline(spark, input_path, out, aliases_df=aliases)
    emit("OP", {"wall_s": time.perf_counter() - t0,
                "triples": summary["triples"]})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("setup", "cli", "dict", "trace"))
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--input")
    ap.add_argument("--aliases")
    ap.add_argument("--out")
    ap.add_argument("--work")
    ap.add_argument("--window-docs", type=int)
    ap.add_argument("--cli-conf", action="store_true",
                    help="trace: configure the session as the CLI does")
    args = ap.parse_args()
    if args.mode == "cli":
        run_cli(args.cpus, ["--input", args.input, "--out", args.out])
        return
    if args.mode == "trace":
        from perfbench.tracing import traced_run
        traced_run(args)
        return
    spark = start(args.cpus)
    try:
        if args.mode == "dict":
            run_dict(spark, args.input, args.aliases, args.out)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
