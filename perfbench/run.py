"""OSHDB-shaped benchmark of the oshdb_spark engine.

    python3 perfbench/run.py --workload node_history --seed 1 --seconds 12 --trace 0

Run from the repository root. One driver process starts Spark on
``local[nproc]``, builds the workload's inputs from ``--seed``, and runs
one closed-loop client (the next query starts when the previous one has
returned) for ``--seconds``. Every answer is checked after the loop
against an independent source. Everything the run writes stays under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (span
dumps) in the working directory.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes a
separate traced run that prints the per-layer metrics. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

BENCH_VERSION = "perfbench-1"
SETUP_REPS = 3
WARMUP_ROUNDS = 2
# the traced full query may differ from the untraced median by this share
# before the traced run is reported as not reconciling
RECONCILE_TOL = 0.25

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {
    "setup_s": "s",
    "snapshot_p50_s": "s",
    "contrib_p50_s": "s",
    "docs_per_s": "1/s",
    "store_bytes_per_doc_byte": "ratio",
    "ok_frac": "frac",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "plans.corpus_write_s": "s",
    "model.derive_s": "s",
    "model.docs_out": "count",
    "api.plan_s": "s",
    "api.aggregate_s": "s",
    "plans.scan_s": "s",
    "plans.rows_scanned": "count",
    "kernels.prepare_s": "s",
    "kernels.kernel_s": "s",
    "geo.measure_s": "s",
    "kernels.docs_node_vec": "count",
    "kernels.docs_way_vec": "count",
    "kernels.docs_rel_vec": "count",
    "kernels.docs_general": "count",
    "kernels.vector_share": "frac",
    "geo.boundary_docs": "count",
    "plans.store_write_s": "s",
    "plans.update_s": "s",
    "plans.vacuum_s": "s",
    "plans.prefixes_rewritten": "count",
    "plans.bytes_rewritten": "bytes",
    "plans.salts": "count",
    "plans.store_read_s": "s",
    "plans.prune_frac": "frac",
    "plans.store_bytes_per_doc_byte": "ratio",
    "ops.rank_normalize_s": "s",
    "ops.quartiles_exact_s": "s",
    "ops.gini_inequality_s": "s",
    "ops.mannwhitney_u_s": "s",
    "ops.ks_2sample_s": "s",
    "ops.skyline2d_s": "s",
    "ops.cpu_util": "frac",
    "spark.jvm_cpu_s": "s",
    "spark.python_cpu_s": "s",
    "spark.cpu_util": "frac",
    "trace.untraced_p50_s": "s",
    "trace.traced_full_s": "s",
    "trace.overhead_frac": "frac",
    "trace.reconciled": "count",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    def __init__(self, args, work: str, out_dir: str):
        self.args = args
        self.work = work
        self.out_dir = out_dir
        self.spark = None
        self.jvm_pid = None
        self.failures: list[dict] = []
        self.attempted = 0
        self.detail: dict = {}

    # -- Spark lifecycle ----------------------------------------------------

    def start_session(self, tracer):
        from oshdb_spark.session import build_session

        tmp = os.path.join(self.work, "tmp")
        with tracer.span("session.start") as s:
            self.spark = build_session(
                "perfbench",
                master=f"local[{nproc()}]",
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        return s.seconds

    def close(self):
        """Stop Spark, then the JVM and every process under it, and wait
        until each has ended."""
        from . import measure

        if self.spark is None:
            return
        pids = measure.descendants(self.jvm_pid) if self.jvm_pid else []
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            deadline = time.time() + 30
            for p in pids:
                while _alive(p):
                    if time.time() > deadline:
                        try:
                            os.kill(p, signal.SIGKILL)
                        except ProcessLookupError:
                            break
                    time.sleep(0.05)

    # -- answer bookkeeping -------------------------------------------------

    def report(self, op: str, ok: bool, detail=None):
        self.attempted += 1
        if not ok:
            self.failures.append({"op": op, "detail": detail})

    # -- the run ------------------------------------------------------------

    def run(self) -> dict:
        from . import measure
        from .workloads import WORKLOADS

        args = self.args
        tracer = measure.Tracer(enabled=bool(args.trace))
        start_s = self.start_session(tracer)
        wl = WORKLOADS[args.workload](
            self.spark, os.path.join(self.work, "data"), args.seed, args.scale)
        rng = _rng(args.seed)

        # set-up: materialize the corpus SETUP_REPS times (the median
        # counts), then WARMUP_ROUNDS of one query per op type (after a
        # single round the first timed queries still ran ~20% slower)
        mats = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            tracer.enabled = bool(args.trace) and rep == 0
            wl.materialize(tracer)
            mats.append(time.perf_counter() - t0)
        tracer.enabled = False
        t0 = time.perf_counter()
        for rnd in range(WARMUP_ROUNDS):
            for op in wl.op_types:
                ps = wl.params(op)
                wl.run(op, ps[rnd % len(ps)], tracer)
        warm_s = time.perf_counter() - t0
        setup_s = start_s + statistics.median(mats) + warm_s
        info = wl.describe()

        if args.trace:
            metrics = self.traced(wl, tracer, rng, start_s)
        else:
            metrics = self.timed(wl, tracer, rng, info, setup_s)
        return {"info": info, "metrics": metrics,
                "setup": {"session_start_s": start_s, "materialize_s": mats,
                          "warmup_s": warm_s}}

    def loop(self, wl, tracer, rng, seconds: float):
        """Closed loop, one client: alternate the workload's op types,
        drawing each op's parameters from the seeded pool."""
        samples = {op: [] for op in wl.op_types}
        results = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            for op in wl.op_types:
                ps = wl.params(op)
                p = ps[int(rng.integers(len(ps)))]
                t0 = time.perf_counter()
                try:
                    rows, err = wl.run(op, p, tracer), None
                except Exception as e:  # a failing op is counted, not fatal
                    rows, err = None, repr(e)
                samples[op].append(time.perf_counter() - t0)
                results.append((op, p, rows, err))
        return samples, results

    def check(self, wl, results):
        for op, p, rows, err in results:
            ok = err is None and wl.check(op, p, rows)
            self.report(f"{op}[{p}]" if p is not None else op, ok,
                        err if err else (None if ok else {"got": rows}))

    def timed(self, wl, tracer, rng, info, setup_s) -> dict:
        from . import measure

        samples, results = self.loop(wl, tracer, rng, self.args.seconds)
        workers = measure.descendants(self.jvm_pid)
        rss = measure.peak_rss_mb([self.jvm_pid] + workers)
        self.detail["peak_rss"] = {
            "jvm_mb": measure.peak_rss_mb([self.jvm_pid]),
            "python_workers": len(workers),
            "python_mb": measure.peak_rss_mb(workers)}
        self.check(wl, results)
        m = {"setup_s": setup_s}
        for op, xs in samples.items():
            st = measure.tail_stats(xs)
            m[f"{op}_p50_s"] = st["p50"]
            self.detail[f"{op}_latency"] = {**st, "samples": [round(x, 4) for x in xs]}
        busy = sum(sum(xs) for xs in samples.values())
        m["docs_per_s"] = info["docs"] * len(results) / busy
        m["store_bytes_per_doc_byte"] = info["stored_bytes"] / info["doc_bytes"]
        m["ok_frac"] = 1.0 - len(self.failures) / self.attempted
        m["peak_rss_mb"] = rss
        return m

    def traced(self, wl, tracer, rng, start_s) -> dict:
        from . import measure

        layer = {k: 0.0 for k in LAYER_UNITS}
        layer["session.start_s"] = start_s
        # untraced reference for the reconciliation, same closed loop
        samples, results = self.loop(wl, tracer, rng, self.args.seconds / 2)
        self.check(wl, results)
        untraced = {op: statistics.median(xs) for op, xs in samples.items()}

        tracer.enabled = True
        stage_s: dict[str, list[float]] = {}
        full, cpu_j, cpu_p, plan_s, agg_s, ratios = [], [], [], [], [], []
        for op_id, op in enumerate(wl.op_types, 1):
            p = wl.params(op)[0]
            tracer.op_id = op_id
            with tracer.span("op", type=op):
                prev = 0.0
                for name, fn in wl.prefix_stages(op, p):
                    with tracer.span(name) as s:
                        fn()
                    stage_s.setdefault(name, []).append(s.seconds - prev)
                    prev = s.seconds
                j0, p0 = measure.cpu_split(self.jvm_pid)
                n0 = len(tracer.spans)
                with tracer.span("op.full") as s:
                    rows = wl.run(op, p, tracer)
                j1, p1 = measure.cpu_split(self.jvm_pid)
            self.report(f"traced.{op}", wl.check(op, p, rows))
            full.append(s.seconds)
            cpu_j.append(j1 - j0)
            cpu_p.append(p1 - p0)
            plan_s.extend(sp["end"] - sp["start"] for sp in tracer.spans[n0:]
                          if sp["name"] == "api.plan")
            # each prefix stage builds its own plan too, so the
            # aggregation's marginal cost is the full op over the last stage
            agg_s.append(s.seconds - prev)
            ratios.append(s.seconds / untraced[op])
        tracer.op_id = None

        mean = statistics.fmean
        for name, xs in stage_s.items():
            layer[f"{name}_s"] = mean(xs)
        layer["api.plan_s"] = mean(plan_s)
        layer["api.aggregate_s"] = mean(agg_s)
        layer["spark.jvm_cpu_s"] = mean(cpu_j)
        layer["spark.python_cpu_s"] = mean(cpu_p)
        layer["spark.cpu_util"] = (sum(cpu_j) + sum(cpu_p)) / (sum(full) * nproc())
        layer["trace.untraced_p50_s"] = mean(list(untraced.values()))
        layer["trace.traced_full_s"] = mean(full)
        layer["trace.overhead_frac"] = statistics.median(ratios) - 1.0
        layer["trace.reconciled"] = float(abs(layer["trace.overhead_frac"]) <= RECONCILE_TOL)

        routes = {}
        with tracer.span("kernels.routing"):
            for op in wl.op_types:
                routes[op] = wl.routing(op, wl.params(op)[0])
        for key in ("docs_node_vec", "docs_way_vec", "docs_rel_vec", "docs_general"):
            layer[f"kernels.{key}"] = sum(r[key] for r in routes.values())
        layer["geo.boundary_docs"] = sum(r["boundary_docs"] for r in routes.values())
        routed = sum(layer[f"kernels.{k}"] for k in (
            "docs_node_vec", "docs_way_vec", "docs_rel_vec", "docs_general"))
        layer["kernels.vector_share"] = (
            1.0 - layer["kernels.docs_general"] / routed if routed else 0.0)
        layer["plans.rows_scanned"] = wl.info["docs"]
        self.detail["routing"] = routes

        wl.probes(tracer, self.report, lambda: measure.cpu_split(self.jvm_pid))
        layer.update(wl.layer)
        tracer.write(os.path.join(
            self.out_dir, f"spans-{wl.name}-{self.args.seed}.json"))
        return layer


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _rng(seed: int):
    import numpy as np

    return np.random.default_rng([seed, 0])


def config(spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    conf = spark.conf
    return {
        "bench_version": BENCH_VERSION,
        "nproc": nproc(),
        "mem_total_mb": mem_kb // 1024,
        "master": spark.sparkContext.master,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "arrow_batch_rows": conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke tests use a tiny one)")
    args = ap.parse_args(argv)

    missing = [p for p in ("oshdb_spark/__init__.py", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Spark, its Python workers and tempfile all write under the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"

    # the package's copy of this module: its relative imports need one
    from perfbench.run import Bench

    bench = Bench(args, work, out_dir)
    try:
        res = bench.run()
        cfg = config(bench.spark)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)

    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(f"config {json.dumps(cfg)}")
    print(f"workload {args.workload} seed={args.seed} loop=closed clients=1 "
          f"inputs {json.dumps(res['info'], default=str)}")
    print(f"setup {json.dumps(res['setup'])}")
    for k, v in bench.detail.items():
        print(f"detail {k} {json.dumps(v)}")
    for name, unit in units.items():
        print(f"metric {name} {res['metrics'][name]:.6g} {unit}")
    for f in bench.failures:
        print(f"FAILED op={f['op']} detail={json.dumps(f['detail'], default=str)[:500]}")
    print(f"failed_frac {len(bench.failures) / max(1, bench.attempted):.6g} "
          f"({len(bench.failures)}/{bench.attempted})")
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": res["metrics"][k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
