"""TableIO seam (SURVEY.md §7): Iceberg-first write API with a partitioned-
parquet + JSON-manifest fallback when no Iceberg catalog is configured (the
sandbox has no Iceberg runtime jar).

Both paths produce the same layout semantics: data partitioned by the given
columns, plus a ``_MANIFEST.json`` carrying per-partition lineage (row
counts, distinct doc ranges) and a completion marker — the unit of
checkpoint/resume (north_rule stage 4).

Iceberg jar status (re-probed each round as VERDICT asks): 2026-08-16 —
maven central unreachable (DNS failure, no egress from the sandbox), so
``iceberg-spark-runtime`` remains unresolvable; the Iceberg branch stays
exercised through the mocked writer seam (tests/test_tableio.py).
First networked run: add
``--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>`` and
``spark.sql.catalog.recrun`` and the real ``writeTo().partitionedBy``
branch executes unchanged.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST.json"


def iceberg_available(spark: SparkSession) -> bool:
    cat = spark.conf.get("spark.sql.catalog.recrun", None)
    return cat is not None


def write_table(df: DataFrame, path: str, partition_by=None,
                stage: str = "", lineage_key: str = "doc_id",
                meta: dict | None = None) -> dict:
    """Write df; return the manifest dict (also persisted at
    path/_MANIFEST.json).  ``meta`` adds caller fields to the manifest
    (the pipeline records the inputs a stage was built from)."""
    spark = df.sparkSession
    partition_by = list(partition_by or [])
    t0 = time.time()

    if iceberg_available(spark):
        # Iceberg path: identical call shape, catalog-managed table
        table = "recrun." + os.path.basename(path.rstrip("/"))
        w = df.writeTo(table)
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
        stored = spark.read.table(table)
    else:
        (df.write.mode("overwrite")
         .partitionBy(*partition_by)
         .parquet(path) if partition_by
         else df.write.mode("overwrite").parquet(path))
        stored = spark.read.parquet(path)

    # per-partition lineage: counts + key ranges per logical partition value
    if partition_by:
        lineage_rows = (stored.groupBy(*partition_by)
                        .agg(F.count(F.lit(1)).alias("rows"),
                             F.min(lineage_key).alias("min_key"),
                             F.max(lineage_key).alias("max_key"))
                        .collect())
        lineage = [{**{c: r[c] for c in partition_by},
                    "rows": r["rows"], "min_key": r["min_key"],
                    "max_key": r["max_key"]} for r in lineage_rows]
    else:
        r = stored.agg(F.count(F.lit(1)).alias("rows"),
                       F.min(lineage_key).alias("min_key"),
                       F.max(lineage_key).alias("max_key")).collect()[0]
        lineage = [{"rows": r["rows"], "min_key": r["min_key"],
                    "max_key": r["max_key"]}]

    manifest = {
        "stage": stage,
        "path": path,
        "format": "iceberg" if iceberg_available(spark) else "parquet",
        "partition_by": partition_by,
        "rows": int(sum(p["rows"] for p in lineage)),
        "partitions": lineage,
        "wall_sec": round(time.time() - t0, 3),
        **(meta or {}),
        "complete": True,
    }
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, default=str)
    return manifest


def write_bucketed(df: DataFrame, table: str, bucket_by, n_buckets: int,
                   sort_by=None, mode: str = "overwrite") -> None:
    """Bucketed managed table for CO-LOCATED joins (SURVEY.md §4): rows are
    hash-clustered into ``n_buckets`` files per partition by ``bucket_by``
    at WRITE time, so an equi-join or aggregation on the bucket key between
    two tables bucketed the same way needs NO Exchange at read time — the
    shuffle is paid once at write and amortized over every downstream join
    (the standard trick for a dimension repeatedly joined at 100 TB).
    ``sort_by`` additionally pre-sorts within buckets, eliminating the sort
    of a sort-merge join.  Verified by plan assertion in tests/test_tableio.py.
    """
    bucket_by = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    # one writer task per bucket -> exactly one file per bucket, which is
    # what lets the reader trust per-bucket sort order and skip re-sorting
    clustered = df.repartition(n_buckets, *[F.col(c) for c in bucket_by])
    w = clustered.write.bucketBy(n_buckets, *bucket_by)
    if sort_by:
        sort_by = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*sort_by)
    w.mode(mode).format("parquet").saveAsTable(table)


def read_manifest(path: str):
    p = os.path.join(path, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        m = json.load(f)
    return m if m.get("complete") else None


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Resolve by the MANIFEST's recorded format, not the current session's
    catalog config — a parquet-written stage must remain readable (and a
    resume valid) even if an Iceberg catalog appears later, and vice versa."""
    m = read_manifest(path)
    fmt = (m or {}).get("format")
    if fmt == "iceberg" or (fmt is None and iceberg_available(spark)):
        return spark.read.table("recrun." + os.path.basename(path.rstrip("/")))
    return spark.read.parquet(path)
