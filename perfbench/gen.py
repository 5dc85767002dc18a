"""Seeded, deterministic inputs for the benchmark workloads.

The sf-shaped directory is the committed base tables in ``perfbench/data``
(the sf0.001 shape: 1,000 events, 500 documents, 500 embeddings, 25
nations, 10 suppliers) with a seed-derived offset added to
``events.event_id`` and ``documents.doc_id``. Every point, rectangle and
segment the queries use is derived from those ids (``engine/derive.py``),
so the geometry changes with the seed while row counts and value
distributions do not. The offset is a multiple of 420 (= lcm of the id
moduli the queries use: 2, 3, 5, 7, 20), so every ``id % m`` bucket keeps
its size. ``embeddings.vec_id`` is permuted with a seeded generator
instead: vector ids carry no geometry, and the ANN queries take the ids
below 8 as their query set, which an offset would empty. ``nation`` and
``supplier`` are copied unchanged.

The ``docs_ingest`` documents table has ``n_docs`` rows: doc ids are the
seed offset plus ``0..n_docs-1``; text, language and source are drawn with
a seeded generator from the base documents, and each text is suffixed with
its doc id so that no two docs share a text.

The same seed always produces byte-identical files (``selftest.py`` checks
this).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SF_TABLES = ("events", "documents", "embeddings", "nation", "supplier")
OFFSET_IDS = {"events": "event_id", "documents": "doc_id"}
PERMUTED_IDS = {"embeddings": "vec_id"}
ID_MODULUS_LCM = 420


def seed_offset(seed: int) -> int:
    """Seed → id offset: a splitmix64 hash, reduced to a multiple of 420
    below 4.2e8 (ids stay far from any 32-bit limit)."""
    z = (seed + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    z ^= z >> 31
    return ID_MODULUS_LCM * (z % 1_000_000)


def _set(table: pa.Table, col: str, values) -> pa.Table:
    i = table.schema.get_field_index(col)
    return table.set_column(i, table.schema.field(i), values)


def make_sf_dir(out_dir: str, seed: int) -> str:
    """Write the seeded sf-shaped tables into ``out_dir``; returns it."""
    os.makedirs(out_dir, exist_ok=True)
    offset = seed_offset(seed)
    rng = np.random.Generator(np.random.PCG64(seed))
    for t in SF_TABLES:
        src = os.path.join(DATA_DIR, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if t in OFFSET_IDS:
            table, col = pq.read_table(src), OFFSET_IDS[t]
            ids = table.column(col)
            pq.write_table(_set(table, col, pc.add(ids, pa.scalar(offset, ids.type))), dst)
        elif t in PERMUTED_IDS:
            table, col = pq.read_table(src), PERMUTED_IDS[t]
            perm = pa.array(rng.permutation(table.num_rows))
            pq.write_table(_set(table, col, pc.take(table.column(col), perm)), dst)
        else:
            shutil.copyfile(src, dst)
    return out_dir


def make_docs_dir(out_dir: str, seed: int, n_docs: int) -> str:
    """Write ``documents.parquet`` (``n_docs`` rows) and ``nation.parquet``
    for the docs ingest job into ``out_dir``; returns it."""
    os.makedirs(out_dir, exist_ok=True)
    base = pq.read_table(os.path.join(DATA_DIR, "documents.parquet"))
    rng = np.random.Generator(np.random.PCG64(seed))
    pick = pa.array(rng.integers(0, base.num_rows, n_docs))
    doc_id = pa.array(np.arange(n_docs, dtype=np.int64) + seed_offset(seed))
    text = pc.binary_join_element_wise(
        pc.take(base.column("text"), pick), pc.cast(doc_id, pa.string()), " "
    )
    docs = pa.table({
        "doc_id": doc_id,
        "text": text,
        "lang": pc.take(base.column("lang"), pick),
        "source": pc.take(base.column("source"), pick),
        "n_chars": pc.utf8_length(text).cast(pa.int64()),
    })
    # several row groups, so the scan splits across all cores
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"),
                   row_group_size=max(1, n_docs // 16))
    shutil.copyfile(os.path.join(DATA_DIR, "nation.parquet"),
                    os.path.join(out_dir, "nation.parquet"))
    return out_dir


def dir_stats(path: str) -> dict:
    """{table: {"rows": n, "bytes": size}} for every parquet file in ``path``."""
    out = {}
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            f = os.path.join(path, name)
            out[name[: -len(".parquet")]] = {
                "rows": pq.ParquetFile(f).metadata.num_rows,
                "bytes": os.path.getsize(f),
            }
    return out
