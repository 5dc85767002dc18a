"""Workload definitions and their correctness checks.

The three sf-shaped workloads split ``__spark_entry__.queries()`` exactly
(``check_partition``); ``mixed`` is a fixed sample of them that reaches
every query-side engine module at a fraction of their cost;
``docs_ingest`` runs the flagship lineage-tracked job
``jobs.docs_join_job.run`` over a generated documents table. Each
workload gives a list of ``(name, build)`` pairs; ``build(spark, pass_id)``
returns the query's DataFrame, and the benchmark times it together with a
write of that DataFrame to the ``noop`` sink.
"""

from __future__ import annotations

import os
import shutil
import sys

import gen

GEO_JOIN = (
    "tile_assign", "tile_morton", "pip_rect_join", "pip_convex_join",
    "pip_join_adaptive", "pip_join_salted", "within_dist_join", "knn_join",
    "within_dist_join_df", "envelope_agg", "centroid_agg", "docs_pip_join",
    "docs_mixed_join", "poly_poly_join", "poly_poly_contains",
    "poly_poly_touches", "seg_cross_join", "subdivide_area",
    "within_dist_join_geom", "union_area", "zonal_stats", "hull_agg",
    "geo_dedup", "interval_join", "asof_join",
)
ITERATIVE = (
    "geo_cluster", "dup_clusters", "cluster_within", "raster_polygonize",
    "geo_kmeans", "knn_join_geom", "knn_join_ring", "knn_join_df",
    "minhash_lsh", "ngram_jaccard",
)
DOCS_ML = (
    "knn_graph", "simhash", "embed_dedup", "ann_lsh", "ann_ivf", "media_frames",
    "window_dedup", "media_dedup", "media_features", "decontaminate",
    "embed_project", "doc_repetition", "media_resize", "seq_pack",
    "knn_embedding", "lang_id", "doc_quantiles", "doc_stats", "doc_quality",
    "media_stats", "dedup_exact", "doc_sample", "fingerprint",
)
SF_WORKLOADS = {"geo_join": GEO_JOIN, "iterative": ITERATIVE, "docs_ml": DOCS_ML}
# driver-bound CC and LSH loops from ``iterative``, execution-bound queries
# from ``geo_join`` and decode/vector ones from ``docs_ml``; between them
# (and with ``docs_ingest`` for lineage) they reach every engine module
MIXED = (
    "geo_cluster", "ngram_jaccard",
    "zonal_stats", "hull_agg", "interval_join",
    "embed_project", "media_features", "doc_stats",
)
SAMPLES = {"mixed": MIXED}
WORKLOADS = (*SF_WORKLOADS, *SAMPLES, "docs_ingest")
DOCS_INGEST_DOCS = 200_000
# queries without an oracle_sql() twin: checked by row count only
ROWS_ONLY = {"geo_kmeans": "events"}


def check_partition(queries: dict) -> list[str]:
    """Problems with the sf workloads as a partition of ``queries()``:
    a query in no workload (a new query must be assigned to one), in two,
    or a workload entry that is not a query."""
    problems = []
    seen: dict[str, str] = {}
    for w, names in SF_WORKLOADS.items():
        for n in names:
            if n in seen:
                problems.append(f"{n} is in both {seen[n]} and {w}")
            seen[n] = w
    for n in sorted(set(queries) - set(seen)):
        problems.append(f"query {n} is in no workload")
    for n in sorted(set(seen) - set(queries)):
        problems.append(f"{seen[n]} names {n}, which is not a query")
    for w, names in SAMPLES.items():
        for n in sorted(set(names) - set(queries)):
            problems.append(f"{w} names {n}, which is not a query")
    return problems


class SfWorkload:
    """One of the sf-shaped query workloads over a seeded input dir."""

    def __init__(self, name: str, work_dir: str, seed: int):
        self.name = name
        self.input_dir = os.path.join(work_dir, "inputs", f"sf-{seed}")
        self.seed = seed
        self.written: dict = {}  # pass id → bytes written (none: noop sink)

    def generate(self) -> str:
        return gen.make_sf_dir(self.input_dir, self.seed)

    def queries(self, entry) -> list[tuple]:
        qs = entry.queries()
        return [(n, lambda spark, _p, fn=qs[n]: fn(spark, self.input_dir))
                for n in {**SF_WORKLOADS, **SAMPLES}[self.name]]

    def end_pass(self, pass_id) -> None:
        pass

    def check(self, spark, entry, outputs: dict) -> dict[str, str]:
        """{query: problem} for each cold-pass output that disagrees with
        its DuckDB oracle (or, for ``ROWS_ONLY`` queries, whose row count
        differs from the table it labels)."""
        import duckdb

        sys.path.insert(0, os.path.join(os.path.dirname(entry.__file__), "tests"))
        from oracle_check import compare

        con = duckdb.connect()
        for t in gen.SF_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.input_dir}/{t}.parquet')")
        oracles = entry.oracle_sql()
        bad = {}
        for name, pdf in outputs.items():
            if name in ROWS_ONLY:
                want = con.execute(f"SELECT count(*) FROM {ROWS_ONLY[name]}").fetchone()[0]
                if len(pdf) != want:
                    bad[name] = f"rows {len(pdf)} != {want}"
                continue
            problems = compare(name, pdf, con.execute(oracles[name]).df())
            if problems:
                bad[name] = "; ".join(problems)
        con.close()
        return bad


class DocsIngestWorkload:
    """The flagship docs → tile → join → refine job, committed stage by
    stage through ``engine.lineage.run_stage`` into a fresh output dir each
    pass."""

    name = "docs_ingest"

    def __init__(self, work_dir: str, seed: int, n_docs: int = DOCS_INGEST_DOCS):
        self.input_dir = os.path.join(work_dir, "inputs", f"docs-{seed}-{n_docs}")
        self.out_root = os.path.join(work_dir, "out")
        self.seed = seed
        self.n_docs = n_docs
        self.written: dict = {}  # pass id → bytes its stages wrote

    def generate(self) -> str:
        return gen.make_docs_dir(self.input_dir, self.seed, self.n_docs)

    def out_dir(self, pass_id) -> str:
        return os.path.join(self.out_root, f"pass-{pass_id}")

    def queries(self, entry) -> list[tuple]:
        from nettopologysuite_spark.jobs import docs_join_job

        return [("docs_join_job", lambda spark, p: docs_join_job.run(
            spark, self.input_dir, self.out_dir(p)))]

    def end_pass(self, pass_id) -> None:
        """Record the bytes the pass wrote, then remove its output. The
        cold pass's output stays until ``check`` has read it."""
        total = 0
        for d, _sub, files in os.walk(self.out_dir(pass_id)):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        self.written[pass_id] = total
        shutil.rmtree(self.out_dir(pass_id), ignore_errors=True)

    def check(self, spark, entry, outputs: dict) -> dict[str, str]:
        """Per-polygon counts against a DuckDB brute-force octagon test over
        every doc; the span invariant on the committed docs stage; and
        ``_lineage`` row totals against each stage's committed row count."""
        import json

        import duckdb
        from pyspark.sql import functions as F

        from nettopologysuite_spark.engine.derive import (
            nation_octagon_sql_pred,
            points_sql,
        )
        from nettopologysuite_spark.engine.docs import (
            check_span_invariant,
            synthesize_docs,
        )

        problems = []
        got = outputs.get("docs_join_job")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{self.input_dir}/documents.parquet')")
        con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                    f"read_parquet('{self.input_dir}/nation.parquet')")
        want = con.execute(
            f"SELECT 'oct-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id, "
            f"count(*) AS n_docs FROM ({points_sql('documents', 'doc_id', 'did')}) p, "
            f"nation n WHERE {nation_octagon_sql_pred('p.x', 'p.y', 'n.n_nationkey')} "
            f"GROUP BY 1").df()
        con.close()
        got_map = dict(zip(got["poly_id"], got["n_docs"])) if got is not None else {}
        want_map = dict(zip(want["poly_id"], want["n_docs"]))
        if got_map != want_map:
            diff = sorted(k for k in set(got_map) | set(want_map)
                          if got_map.get(k) != want_map.get(k))
            problems.append(f"per-polygon counts differ for {diff[:5]}")
        out = self.out_dir(0)
        docs_out = spark.read.parquet(os.path.join(out, "docs", "data"))
        bad = check_span_invariant(synthesize_docs(spark, self.input_dir), docs_out)
        if bad:
            problems.append(f"span invariant: {bad} docs changed")
        for stage in ("docs", "joined", "summary"):
            with open(os.path.join(out, stage, "_STAGE_OK")) as f:
                marker = json.load(f)["rows"]
            lin = spark.read.parquet(os.path.join(out, stage, "_lineage"))
            total = lin.agg(F.sum("n_rows")).first()[0] or 0
            rows = spark.read.parquet(os.path.join(out, stage, "data")).count()
            if not total == rows == marker:
                problems.append(f"{stage}: lineage {total}, data {rows}, marker {marker}")
        return {"docs_join_job": "; ".join(problems)} if problems else {}


def make(name: str, work_dir: str, seed: int):
    if name == "docs_ingest":
        return DocsIngestWorkload(work_dir, seed)
    return SfWorkload(name, work_dir, seed)
