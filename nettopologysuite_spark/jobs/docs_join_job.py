"""spark-submit entry point: the flagship interleaved-docs spatial join as a
resumable, lineage-tracked pipeline.

Usage (cluster) — spark-submit takes a script path and this module uses
package-relative imports, so submit the repo-root shim with the package
zipped onto the PYTHONPATH:

    spark-submit --py-files nettopologysuite_spark.zip \\
        submit_docs_join.py --input /data/sf0.1 --output /out/run1 [--level 6]

Stages (each checkpointed via ``engine.lineage.run_stage`` — a re-run after
any failure resumes from the last committed stage):

1. ``docs``   — synthesize/ingest the interleaved docs table
2. ``joined`` — tile assignment + broadcast cell join + exact PIP refine,
   per-file lineage keyed by cell_id
3. ``summary`` — per-polygon match counts (the reporting aggregate)
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def run(spark: SparkSession, sf_dir: str, out_dir: str, level: int = 6) -> DataFrame:
    from ..engine.docs import docs_spatial_join, synthesize_docs
    from ..engine.lineage import run_stage
    from ..engine.polygons import PolygonPack
    from ..engine import derive
    from ..kernels.cells import Grid

    grid = Grid(0.0, 0.0, 100.0, 100.0, level=level)
    keys = sorted(
        r[0] for r in spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select("n_nationkey").collect()
    )
    pack = PolygonPack.from_geoms(
        [(f"oct-{k}", derive.nation_octagon_geom(k)) for k in keys], kind="convex"
    )

    run_stage(
        spark, f"{out_dir}/docs",
        lambda: synthesize_docs(spark, sf_dir),
        key_col="doc_id", stage_name="docs",
    )
    joined = run_stage(
        spark, f"{out_dir}/joined",
        lambda: docs_spatial_join(spark, sf_dir, pack, grid, predicate="covers"),
        key_col="cell_id", stage_name="joined",
    )
    summary = run_stage(
        spark, f"{out_dir}/summary",
        lambda: joined.groupBy("poly_id").agg(F.count("*").alias("n_docs")),
        key_col="poly_id", stage_name="summary",
    )
    return summary


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--level", type=int, default=6)
    args = ap.parse_args()
    spark = SparkSession.builder.appName("nts-docs-spatial-join").getOrCreate()
    summary = run(spark, args.input, args.output, args.level)
    for row in summary.orderBy("poly_id").collect():
        print(f"{row['poly_id']}\t{row['n_docs']}")
    spark.stop()


if __name__ == "__main__":
    main()
