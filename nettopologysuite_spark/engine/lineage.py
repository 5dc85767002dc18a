"""Checkpointed, resumable pipeline stages with per-file lineage.

North-rule realization (BASELINE.json: "resumable from checkpoint with
per-partition lineage + metrics"). On Iceberg the commit is a snapshot; in
the sandbox the same contract is realized with atomic parquet directories:

- each stage writes its output parquet, then a ``_lineage`` parquet with
  one row per written data file (writer partition id, row count, key
  range), then a ``_STAGE_OK`` marker — marker last, so a crash anywhere
  leaves the stage incomplete and a re-run recomputes it (write-ahead
  ordering = snapshot-commit analog);
- ``_lineage`` is the analog of Iceberg's data-file metrics: like Iceberg,
  it is built from the files just written, here from their parquet footers
  (``num_rows`` and the key column's row-group min/max statistics), read on
  the driver — nothing after the data write launches a Spark job;
- ``run_stage`` short-circuits to the committed output when the marker
  exists: any failed run resumes from the last committed stage.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    DateType,
    IntegralType,
    StringType,
    StructType,
)

# the Spark schema the writer stores in every footer (what schema
# inference would read back)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")
# key types whose footer statistics pyarrow decodes in Spark's order;
# floats are left out on purpose: parquet statistics and Spark's min/max
# order NaN differently
_KEY_TYPES = (IntegralType, StringType, BinaryType, DateType)


def _marker(path: str) -> str:
    return os.path.join(path, "_STAGE_OK")


def stage_is_committed(path: str) -> bool:
    return os.path.exists(_marker(path))


def _key_range(md: pq.FileMetaData, col: int, path: str) -> tuple:
    """(min, max) of leaf column ``col`` over the file's row-group
    statistics; (None, None) when every key is null."""
    lo = hi = None
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        st = rg.column(col).statistics
        if st is not None and st.has_min_max:
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        elif st is None or st.null_count != rg.num_rows:
            raise ValueError(f"{path}: row group {g} has non-null keys but "
                             "no min/max statistics")
    return lo, hi


def _footer_lineage(data_dir: str, key_col: str | None) -> tuple[pa.Table, StructType]:
    """The ``_lineage`` table and the Spark schema of a written stage, from
    the footers of its ``part-*.parquet`` files."""
    footers = []
    for name in sorted(os.listdir(data_dir)):
        m = _PART_FILE.match(name)
        if m:
            path = os.path.join(data_dir, name)
            footers.append((int(m.group(1)), path, pq.read_metadata(path)))
    md0 = footers[0][2]
    schema = StructType.fromJson(json.loads(md0.metadata[_SPARK_SCHEMA_KEY]))
    written = [(pid, path, md) for pid, path, md in footers if md.num_rows]
    cols = {
        "partition_id": pa.array([pid for pid, _, _ in written], pa.int32()),
        "n_rows": pa.array([md.num_rows for _, _, md in written], pa.int64()),
    }
    if key_col:
        col = [md0.schema.column(i).path
               for i in range(md0.num_columns)].index(key_col)
        key_type = md0.schema.to_arrow_schema().field(key_col).type
        ranges = [_key_range(md, col, path) for _, path, md in written]
        cols["key_min"] = pa.array([lo for lo, _ in ranges], key_type)
        cols["key_max"] = pa.array([hi for _, hi in ranges], key_type)
    return pa.table(cols), schema


def run_stage(
    spark: SparkSession,
    out_dir: str,
    build: "callable[[], DataFrame]",
    key_col: str | None = None,
    stage_name: str | None = None,
) -> DataFrame:
    """Execute-or-resume a pipeline stage.

    Returns the stage output DataFrame (reading the committed parquet). The
    lineage table lands at ``{out_dir}/_lineage`` and run metrics in the
    marker JSON. ``key_col`` must be an integral, string, binary or date
    column, else ``ValueError``.
    """
    data_dir = os.path.join(out_dir, "data")
    if stage_is_committed(out_dir):
        return spark.read.parquet(data_dir)
    t0 = time.time()
    df = build()
    if key_col and not isinstance(df.schema[key_col].dataType, _KEY_TYPES):
        raise ValueError(f"key_col {key_col!r} has unsupported type "
                         f"{df.schema[key_col].dataType.simpleString()}")
    df.write.mode("overwrite").parquet(data_dir)
    lineage, schema = _footer_lineage(data_dir, key_col)
    lin_dir = os.path.join(out_dir, "_lineage")
    shutil.rmtree(lin_dir, ignore_errors=True)
    os.makedirs(lin_dir)
    pq.write_table(lineage, os.path.join(lin_dir, "part-00000.parquet"))
    wall = time.time() - t0
    with open(_marker(out_dir), "w") as f:
        json.dump(
            {
                "stage": stage_name or os.path.basename(out_dir),
                "rows": sum(lineage["n_rows"].to_pylist()),
                "wall_sec": round(wall, 3),
                "committed_at": time.time(),
            },
            f,
        )
    return spark.read.schema(schema).parquet(data_dir)


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "_lineage"))


# ---------------------------------------------------------------------------
# snapshot log (Iceberg metadata-log analog)
# ---------------------------------------------------------------------------

class SnapshotLog:
    """Append-only snapshot log over a pipeline root — the navigable analog
    of Iceberg's metadata log:

    ========================  =============================================
    Iceberg                   sandbox analog
    ========================  =============================================
    snapshot                  ``snap-<id>.json`` (id, parent, inputs,
                              committed stage dirs, operation)
    metadata-log append       write ``.tmp`` then atomic ``os.rename`` —
                              a crash mid-commit leaves only the tmp,
                              which readers ignore (resume sees N-1)
    manifest validity         every stage dir recorded must carry its
                              ``_STAGE_OK`` marker (commit refuses dirty
                              stages)
    time travel               ``read_at(spark, snapshot_id, stage)``
    current snapshot pointer  highest committed id (no mutable pointer
                              file — append-only is the source of truth)
    ========================  =============================================
    """

    def __init__(self, root: str):
        self.root = root
        self.dir = os.path.join(root, "_snapshots")
        os.makedirs(self.dir, exist_ok=True)

    # -- reading ----------------------------------------------------------
    def snapshot_ids(self) -> list[int]:
        ids = []
        for name in os.listdir(self.dir):
            if name.startswith("snap-") and name.endswith(".json"):
                ids.append(int(name[5:-5]))
        return sorted(ids)

    def get(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.dir, f"snap-{snapshot_id:08d}.json")) as f:
            return json.load(f)

    def latest(self) -> dict | None:
        ids = self.snapshot_ids()
        return self.get(ids[-1]) if ids else None

    # -- committing -------------------------------------------------------
    def commit(self, stages: dict[str, str], inputs: list[str] | None = None,
               operation: str = "append") -> int:
        """Append a snapshot recording committed stage dirs. Atomic: the
        JSON lands under a temp name and renames into place LAST, so any
        failure before the rename leaves the log at snapshot N-1."""
        for name, path in stages.items():
            if not stage_is_committed(path):
                raise ValueError(
                    f"stage {name!r} at {path} has no _STAGE_OK marker — "
                    "refusing to commit an unfinished stage"
                )
        prev = self.latest()
        snap_id = (prev["snapshot_id"] + 1) if prev else 1
        doc = {
            "snapshot_id": snap_id,
            "parent_id": prev["snapshot_id"] if prev else None,
            "committed_at": time.time(),
            "operation": operation,
            "inputs": list(inputs or []),
            "stages": dict(stages),
        }
        final = os.path.join(self.dir, f"snap-{snap_id:08d}.json")
        tmp = final + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=2)
        os.rename(tmp, final)  # the commit point
        return snap_id

    # -- time travel ------------------------------------------------------
    def read_at(self, spark: SparkSession, snapshot_id: int,
                stage: str) -> DataFrame:
        """The stage's data as of the given snapshot."""
        snap = self.get(snapshot_id)
        if stage not in snap["stages"]:
            raise KeyError(f"snapshot {snapshot_id} has no stage {stage!r}")
        return spark.read.parquet(os.path.join(snap["stages"][stage], "data"))


def expire_snapshots(log: "SnapshotLog", keep_last: int = 3) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshots from the log (the
    Iceberg expire-snapshots maintenance op). Returns the expired ids.
    The newest snapshot is never expirable; stage data directories are NOT
    touched — use :func:`orphan_stages` to find unreferenced ones."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    ids = log.snapshot_ids()
    expired = ids[:-keep_last] if len(ids) > keep_last else []
    for sid in expired:
        os.remove(os.path.join(log.dir, f"snap-{sid:08d}.json"))
    return expired


def orphan_stages(log: "SnapshotLog", candidates: list[str]) -> list[str]:
    """Stage directories in ``candidates`` referenced by NO remaining
    snapshot — safe to garbage-collect after expiry (reported, never
    deleted here: removal is the caller's explicit, audited act)."""
    live: set[str] = set()
    for sid in log.snapshot_ids():
        live.update(os.path.abspath(p) for p in log.get(sid)["stages"].values())
    return [c for c in candidates if os.path.abspath(c) not in live]
