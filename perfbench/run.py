"""Benchmark of the nettopologysuite_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process: set up a Spark session on
``local[N]`` (N = cores this process may use), generate the workload's
inputs from the seed, then run a closed loop of the workload's queries,
one at a time, each timed from the query call to the end of its write to
the ``noop`` sink:

1. a cold pass, whose outputs are collected and checked against the
   oracles after the pass (the check is not timed);
2. ``WARMUP_PASSES`` untimed warm-up passes, while the queries still
   speed up from pass to pass;
3. whole warm passes until ``--seconds`` have gone by;
4. with ``--trace 1`` only: one more pass with the tracing wrappers
   installed, then removed.

Human-readable lines come first (every metric with its unit and sample
count, per-query medians, the host record); the last line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
``attempted`` counts the workload's queries and ``failed`` those that
raised in any pass or failed the check. The traced run also writes all
spans and per-query status-store metrics to
``.perfbench/trace/<workload>-<seed>.json``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from tracing import (  # noqa: E402
    ENGINE_MODULES,
    MATERIALIZE_METHODS,
    StatusReader,
    Tracer,
    engine_objects,
)

MB = 1e6
# On a 4-core machine, passes 1 and 2 after the cold pass still run up to 60%
# slower than the passes after them, by an amount that depends on the load
# on the host; they run (a failure in them counts) but are not timed.
WARMUP_PASSES = 2


def cores() -> int:
    return len(os.sched_getaffinity(0))


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def since_process_start() -> float:
    """Seconds since this process was started (``/proc/self/stat`` start
    time, in clock ticks since boot)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def setup_spark(n: int):
    """Process start → engine imported and a Spark session that has run
    one job. Returns (spark, entry module, seconds)."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from nettopologysuite_spark.engine.session import get_spark

    spark = get_spark(master=f"local[{n}]", shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, entry, since_process_start()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, spark, entry, wl):
        self.spark = spark
        self.wl = wl
        self.queries = wl.queries(entry)
        self.failed: dict[str, str] = {}
        self.tracer = None
        self.status = None
        self.query_metrics: list[dict] = []

    def run_pass(self, pass_id, collect: bool = False) -> tuple[float, dict, dict]:
        """One closed-loop pass. Returns (pass seconds, {query: seconds},
        {query: pandas output} when ``collect``)."""
        times, outputs = {}, {}
        for name, build in self.queries:
            tr = self.tracer
            if tr:
                tr.pass_id, tr.query = pass_id, name
                mark = self.status.mark()
                q = tr.open("query", name)
            t0 = time.perf_counter()
            try:
                if tr:
                    b = tr.open("build", name)
                df = build(self.spark, pass_id)
                if tr:
                    tr.close(b)
                    x = tr.open("exec", name)
                if collect:
                    outputs[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                if tr:
                    tr.close(x)
            except Exception as e:  # a failing query is counted, the run goes on
                self.failed.setdefault(name, f"{type(e).__name__}: {str(e)[:300]}")
                traceback.print_exc(limit=3)
                if tr:
                    tr.unwind(q, e)
            times[name] = time.perf_counter() - t0
            if tr:
                tr.close(q)
                rec = self.status.read(mark)
                rec.update(pass_id=pass_id, query=name, wall_s=times[name])
                self.query_metrics.append(rec)
        return sum(times.values()), times, outputs

    def warm_passes(self, first_id: int, seconds: float) -> list[tuple]:
        """Whole warm passes until ``seconds`` have gone by."""
        out = []
        t0 = time.perf_counter()
        while not out or time.perf_counter() - t0 < seconds:
            pid = first_id + len(out)
            out.append(self.run_pass(pid)[:2])
            self.wl.end_pass(pid)
        return out


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(setup_s, cold_s, warm, peak_rss_mb) -> dict:
    per_query = [t for _, times in warm for t in times.values()]
    pass_s = statistics.median(p for p, _ in warm)
    return {
        "setup_s": (setup_s, "s", 1),
        "cold_pass_s": (cold_s, "s", 1),
        "pass_s": (pass_s, "s", len(warm)),
        "query_s.p50": (quantile(per_query, 50), "s", len(per_query)),
        "query_s.p90": (quantile(per_query, 90), "s", len(per_query)),
        "peak_rss_mb": (peak_rss_mb, "MB", 1),
    }


def per_layer(runner, pid, pass_s, untraced, wl, input_bytes: int) -> dict:
    """Per-layer metrics: totals over the traced pass ``pid``."""
    tr = runner.tracer
    layers = tr.layer_totals(pid)
    recs = [m for m in runner.query_metrics if m["pass_id"] == pid]

    def lay(name, key="self_s"):
        return layers.get(name, {}).get(key, 0.0)

    def total(key):
        return sum(m[key] for m in recs)

    eager = [v for k, v in layers.items() if k.startswith("eager.")]
    mat = [layers[f"eager.{m}"] for m in MATERIALIZE_METHODS if f"eager.{m}" in layers]
    cand = total("joins.candidate_rows")
    r = {
        "driver.build_s": lay("build", "total_s"),
        "driver.exec_s": lay("exec", "total_s"),
        "driver.eager_actions": sum(v["calls"] for v in eager),
        "driver.eager_s": sum(v["total_s"] for v in eager),
        "driver.materialize_calls": sum(v["calls"] for v in mat),
        "driver.materialize_s": sum(v["total_s"] for v in mat),
        "spark.jobs": total("spark.jobs"),
        "spark.stages": total("spark.stages"),
        "spark.tasks": total("spark.tasks"),
        "spark.shuffle_write_mb": total("spark.shuffle_write_bytes") / MB,
        "spark.spill_mb": total("spark.spill_bytes") / MB,
        "python.mb_sent": total("python.bytes_sent") / MB,
        "python.mb_recv": total("python.bytes_recv") / MB,
        "python.rows_recv": total("python.rows_recv"),
        "python.udf_s": total("python.udf_s"),
        "python.boot_s": total("python.boot_s"),
        "joins.candidate_rows": cand,
        "joins.refine_keep_ratio": total("joins.kept_rows") / cand if cand else 0.0,
    }
    for m in ENGINE_MODULES:
        r[f"engine.{m}.self_s"] = lay(f"engine.{m}")
        r[f"engine.{m}.jobs"] = lay(f"engine.{m}", "jobs")
    written = wl.written.get(pid, 0)
    r["engine.lineage.write_s"] = lay("engine.lineage", "total_s")
    r["engine.lineage.written_mb"] = written / MB
    r["engine.lineage.write_amp"] = written / input_bytes
    r["trace.spans"] = sum(1 for s in tr.spans if s["pass"] == pid)
    # the last untraced pass ran just before the traced one
    r["trace.overhead_s"] = pass_s - untraced[-1][0]
    out = {}
    for k, v in r.items():
        unit = ("MB" if k.endswith("_mb") or ".mb_" in k else "s" if k.endswith("_s")
                else "ratio" if k.endswith(("_ratio", "_amp")) else "count")
        out[k] = (v, unit, 1)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    steal0 = steal_ticks()
    n = cores()

    spark, entry, setup_s = setup_spark(n)
    problems = workloads.check_partition(entry.queries())
    if problems:
        stop_spark(spark)
        print("workload partition broken: " + "; ".join(problems), file=sys.stderr)
        return 2
    try:
        originals = engine_objects()
        shutil.rmtree(os.path.join(WORK_DIR, "out"), ignore_errors=True)
        wl = workloads.make(args.workload, WORK_DIR, args.seed)
        g0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - g0
        runner = Runner(spark, entry, wl)

        cold_s, _, outputs = runner.run_pass(0, collect=True)
        c0 = time.perf_counter()
        for name, why in wl.check(spark, entry, outputs).items():
            runner.failed.setdefault(name, f"check: {why}")
        check_s = time.perf_counter() - c0
        wl.end_pass(0)
        del outputs
        warmup = []
        for pid in range(1, 1 + WARMUP_PASSES):
            warmup.append(runner.run_pass(pid)[0])
            wl.end_pass(pid)
        warm = runner.warm_passes(1 + WARMUP_PASSES, args.seconds)

        traced_pid = traced_s = None
        if args.trace:
            runner.tracer, runner.status = Tracer(spark), StatusReader(spark)
            runner.tracer.install()
            try:
                traced_pid = 1 + WARMUP_PASSES + len(warm)
                traced_s = runner.run_pass(traced_pid)[0]
                wl.end_pass(traced_pid)
            finally:
                runner.tracer.uninstall()
        now = engine_objects()
        left_wrapped = sorted(k for k, v in originals.items() if now.get(k) is not v)
        if left_wrapped:
            runner.failed.setdefault("tracing", f"left wrapped: {left_wrapped[:5]}")

        jvm_pid = spark.sparkContext._gateway.jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
        import pyarrow
        import pyspark

        host = {
            "nproc": n, "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "seed": args.seed, "seed_offset": workloads.gen.seed_offset(args.seed),
            "inputs": workloads.gen.dir_stats(wl.input_dir), "gen_s": gen_s,
            "check_s": check_s,
            "warmup_pass_s": warmup,
            "spark": spark.version, "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
        }
    finally:
        stop_spark(spark)
    shutil.rmtree(os.path.join(WORK_DIR, "inputs"), ignore_errors=True)
    host["steal_ticks"] = [steal0, steal_ticks()]

    attempted = len(runner.queries)
    failed = len(runner.failed)
    e2e = end_to_end(setup_s, cold_s, warm, peak_rss_mb)
    e2e["failed_frac"] = (failed / attempted, "ratio", attempted)
    if args.workload == "docs_ingest":
        e2e["docs_per_s"] = (wl.n_docs / e2e["pass_s"][0], "1/s", len(warm))
    shown = dict(e2e)
    if args.trace:
        input_bytes = sum(t["bytes"] for t in host["inputs"].values())
        shown.update(per_layer(runner, traced_pid, traced_s, warm, wl, input_bytes))
        os.makedirs(os.path.join(WORK_DIR, "trace"), exist_ok=True)
        path = os.path.join(WORK_DIR, "trace", f"{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"host": host, "spans": runner.tracer.spans,
                       "queries": runner.query_metrics,
                       "tracer_s": runner.tracer.tracer_s}, f)
        print(f"trace written to {os.path.relpath(path, ROOT)}")

    print(f"workload {args.workload}  seed {args.seed}  "
          f"correct {not runner.failed}  failed {failed}/{attempted}")
    for name, why in runner.failed.items():
        print(f"  FAILED {name}: {why}")
    if "geo_kmeans" in dict(runner.queries):
        print("  note: geo_kmeans has no oracle; its row count is checked")
    for k, (v, unit, count) in shown.items():
        print(f"  {k:<32} {v:>14.6g} {unit:<6} n={count}")
    per_q = {}
    for _, times in warm:
        for q, t in times.items():
            per_q.setdefault(q, []).append(t)
    for q, ts in per_q.items():
        print(f"  query.{q}_s{'':<{max(0, 24 - len(q))}} {statistics.median(ts):>14.6g} s"
              f"      n={len(ts)}")
    print("host " + json.dumps(host))

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    keys = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    print(json.dumps({
        "correct": not runner.failed, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": shown[k][0], "unit": shown[k][1]} for k in keys},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
