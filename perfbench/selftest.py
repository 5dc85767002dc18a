"""Self-tests of the benchmark itself. Run from the repository root:

    python3 perfbench/selftest.py

Checks that
- the same seed gives byte-identical input files and another seed does not;
- the sf workloads split ``__spark_entry__.queries()`` exactly, a query
  in no workload is reported, and ``mixed`` names only queries;
- installing the tracer wraps engine functions and pyspark eager actions,
  records spans, pickles wrapped functions as the originals, and that
  uninstalling restores every original object.

Exits 1 on the first failed check.
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402
from run import WORK_DIR, setup_spark, stop_spark  # noqa: E402
from tracing import Tracer, engine_objects  # noqa: E402


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


def check_generator(tmp: str) -> None:
    for seed in (0, 7):
        a = gen.make_sf_dir(os.path.join(tmp, f"sf-{seed}-a"), seed)
        b = gen.make_sf_dir(os.path.join(tmp, f"sf-{seed}-b"), seed)
        assert _same_files(a, b), f"sf inputs for seed {seed} differ between runs"
        d1 = gen.make_docs_dir(os.path.join(tmp, f"docs-{seed}-a"), seed, 5000)
        d2 = gen.make_docs_dir(os.path.join(tmp, f"docs-{seed}-b"), seed, 5000)
        assert _same_files(d1, d2), f"docs inputs for seed {seed} differ between runs"
    events = "events.parquet"
    assert not filecmp.cmp(os.path.join(tmp, "sf-0-a", events),
                           os.path.join(tmp, "sf-7-a", events), shallow=False), \
        "seeds 0 and 7 gave the same events"
    stats = gen.dir_stats(os.path.join(tmp, "sf-7-a"))
    base = gen.dir_stats(gen.DATA_DIR)
    assert {t: s["rows"] for t, s in stats.items()} == {t: s["rows"] for t, s in base.items()}


def check_partition(entry) -> None:
    assert workloads.check_partition(entry.queries()) == [], \
        workloads.check_partition(entry.queries())
    extra = dict(entry.queries(), new_query=None)
    assert workloads.check_partition(extra) == ["query new_query is in no workload"]


def check_tracer(spark) -> None:
    import pickle

    from pyspark import cloudpickle

    from nettopologysuite_spark.engine import tiling
    from nettopologysuite_spark.kernels.cells import Grid

    before = engine_objects()
    tracer = Tracer(spark)
    tracer.install()
    try:
        after = engine_objects()
        wrapped = [k for k in before if after.get(k) is not before[k]]
        assert len(wrapped) == len(before), \
            f"not wrapped: {sorted(set(before) - set(wrapped))[:5]}"
        fn = tiling.morton_col
        assert pickle.loads(cloudpickle.dumps(fn)) is fn, "wrapper does not pickle by name"
        tracer.pass_id, tracer.query = 0, "selftest"
        b = tracer.open("build", "selftest")
        pts = spark.range(10).selectExpr("CAST(id AS DOUBLE) AS x", "CAST(id AS DOUBLE) AS y")
        pts.select(fn(Grid(0.0, 0.0, 100.0, 100.0, level=3)).alias("m")).count()
        tracer.close(b)
        layers = tracer.layer_totals(0)
        assert layers["engine.tiling"]["calls"] == 1, layers
        assert layers["eager.count"]["calls"] == 1 and layers["eager.count"]["jobs"] >= 1, layers
    finally:
        tracer.uninstall()
    after = engine_objects()
    left = [k for k in before if after.get(k) is not before[k]]
    assert not left, f"left wrapped: {left[:5]}"


def main() -> int:
    tmp = os.path.join(WORK_DIR, "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        check_generator(tmp)
        print("ok  generator is deterministic per seed")
        spark, entry, _ = setup_spark(1)
        try:
            check_partition(entry)
            print("ok  sf workloads partition queries()")
            check_tracer(spark)
            print("ok  tracer wraps, records and restores")
        finally:
            stop_spark(spark)
    except AssertionError as e:
        print(f"FAIL {e}")
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
