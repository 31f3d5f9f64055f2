"""caimspark benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. A run:

1. generates its input tables once per checkout (``perfbench/datagen.py``,
   kept under ``.perfbench/data``);
2. gives itself a fresh scratch dir and Spark local dir under
   ``.perfbench/runs`` and removes them when it ends;
3. sets up ``SETUPS`` times (session start plus the workload's own
   set-up) and reports the median as ``setup_s``;
4. runs the workload's warm-up queries on the small check data;
5. runs passes (closed loop, one client, one operation at a time on
   ``local[nproc]``; every query ends in the noop sink) until ``--seconds``
   have passed, at least one, each pass in an order drawn from ``--seed``;
6. outside the timed region, hash-matches seeded oracle-backed queries
   against DuckDB and checks the workload's own invariants;
7. prints every metric with its unit and sample count, then the JSON
   result as the last line.

``--trace 1`` runs the same passes through ``tracing.Tracer`` and reports
the per-layer metrics instead of the end-to-end ones.
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
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

#: Set-ups per run; ``setup_s`` is their median.
SETUPS = 3
#: Seed of the generated tables; the workload seed varies the run instead.
DATA_SEED = 42
CHECK_SF = 0.01
#: JVM heap, committed up front (-Xms) so that the JVM's resident size
#: does not depend on when the collector chose to grow the heap.
HEAP = "3g"

#: The end-to-end metrics in the result line: those steady enough across
#: seeds to carry a bound. Operation-latency percentiles are printed too,
#: but with one pass a run's ops are a fixed heterogeneous mix whose
#: median moves with the seeded order (the first Python UDF or array
#: function of a pass pays the warm-up), so they carry no bound.
END_TO_END = ("setup_s", "pass_s", "peak_rss_mb")
UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
         "peak_rss_mb": "MB"}

#: Per-layer metrics with their units, reported for every workload (0 where
#: the workload does not exercise the layer).
PER_LAYER = {
    "session.start_s": "s",
    "catalog.cache_s": "s", "catalog.cache_bytes": "B",
    "catalog.load_calls": "count", "catalog.load_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s", "exec.gc_s": "s", "exec.cpu_share": "ratio",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B", "exec.input_bytes": "B", "exec.input_rows": "count",
    "python.total_s": "s", "python.boot_s": "s",
    "python.bytes_sent": "B", "python.bytes_received": "B",
    "caim.fit_s": "s", "caim.greedy_s": "s", "caim.transform_s": "s",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.precision": "ratio",
    "sigstore.build_s": "s", "sigstore.probe_s": "s", "sigstore.append_s": "s",
    "sigstore.delete_s": "s", "sigstore.compact_s": "s",
    "sigstore.bytes_written": "B", "sigstore.live_layers": "count",
    "ann.query_s": "s", "ann.recall_at_5": "ratio",
    "ivfpq.build_s": "s", "ivfpq.append_s": "s", "ivfpq.delete_s": "s",
    "ivfpq.vacuum_s": "s",
    "ivfpq.query_s": "s", "ivfpq.bytes_written": "B",
    "store.space_amp": "ratio",
    "layout.resolve_s": "s", "scan.files_read": "count", "scan.file_bytes": "B",
    "scan.files_pruned": "count",
    "stream.run_s": "s", "stream.batches": "count", "stream.input_rows": "count",
    "stream.state_rows": "count", "stream.state_bytes": "B",
    "leak.session_tables": "count/pass", "leak.cached_relations": "count/pass",
    "leak.scratch_bytes": "B/pass", "leak.checkpoint_dirs": "count/pass",
    "trace.pass_s": "s",
}

#: Span (or op) totals per pass that feed a per-layer metric directly.
SPAN_METRICS = {
    "catalog.load_s": "catalog.load", "caim.fit_s": "caim.fit",
    "sigstore.append_s": "sigstore.append",
    "sigstore.delete_s": "sigstore.delete", "sigstore.compact_s": "sigstore.compact",
    "ivfpq.append_s": "ivfpq.append", "ivfpq.delete_s": "ivfpq.delete",
    "ivfpq.vacuum_s": "ivfpq.vacuum", "layout.resolve_s": "layout.resolve",
    "stream.run_s": "stream.run",
}
#: Ops whose whole wall time is the layer's (lazy query functions do their
#: work in the sink, after the span has closed).
OP_METRICS = {
    "ivfpq.query_s": ("ivf_query",), "ann.query_s": ("sim_ivf",),
    "sigstore.build_s": ("sig_build",), "ivfpq.build_s": ("ivf_build",),
    "sigstore.probe_s": ("sig_probe",),
    "caim.transform_s": ("caim_transform", "caim_mllib_stage"),
}


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _commit(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown (not a git checkout)"
    out = subprocess.run(
        ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return out.stdout.strip() or "unknown"


def ensure_data(work: str, sf: float) -> tuple[str, float]:
    """The generated tables for ``sf`` (built on first use)."""
    from datagen import write_tables

    path = os.path.join(work, "data", f"sf{sf}-seed{DATA_SEED}")
    if os.path.isdir(path):
        return path, 0.0
    t0 = time.perf_counter()
    write_tables(path, sf, DATA_SEED)
    return path, time.perf_counter() - t0


class Bench:
    """One run of one workload; ``work`` holds the generated data."""

    def __init__(self, args, work: str, run_dir: str):
        from workloads import WORKLOADS

        self.args = args
        self.n = os.cpu_count() or 1
        self.work = work
        self.cls = WORKLOADS[args.workload]
        self.scratch = os.path.join(run_dir, "scratch")
        self.spark = None

    # -- session ----------------------------------------------------------

    def _start_session(self):
        """Start the session, or restart it: stopping the previous one is
        part of setting up again in the same process."""
        from pycaim_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.n}]", shuffle_partitions=self.n
        )
        return self.spark

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Py4JError:  # a signal broke the connection mid-call
                pass
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                except (OSError, AttributeError):
                    pass
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def _reset_scratch(self, keep: tuple[str, ...]) -> None:
        os.makedirs(self.scratch, exist_ok=True)
        for entry in os.listdir(self.scratch):
            if entry not in keep:
                shutil.rmtree(os.path.join(self.scratch, entry))

    # -- hygiene ----------------------------------------------------------

    def _hygiene(self) -> dict:
        """What a long-lived session accumulates. Not counted: the fixture
        views that ``catalog.register_temp_views`` replaces in place, and
        the stores the workload itself writes under ``stores/``."""
        from pycaim_spark.catalog import TABLES

        spark = self.spark
        ckpt = os.path.join(self.scratch, "checkpoints")
        return {
            "session_tables": sum(
                t.name not in TABLES for t in spark.catalog.listTables()
            ),
            "cached_relations": spark.sparkContext._jsc.getPersistentRDDs().size(),
            "scratch_bytes": stats.tree_bytes(self.scratch)
            - stats.tree_bytes(os.path.join(self.scratch, "stores")),
            "checkpoint_dirs": len(os.listdir(ckpt)) if os.path.isdir(ckpt) else 0,
        }

    # -- the run ----------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        args = self.args
        info = {"load_start": os.getloadavg()[0]}
        sf_dir, gen_s = ensure_data(self.work, self.cls.sf)
        check_dir, gen_check_s = ensure_data(self.work, CHECK_SF)
        info["datagen_s"] = gen_s + gen_check_s
        from pycaim_spark.registry import queries

        ctx = SimpleNamespace(
            spark=None, sf_dir=sf_dir, check_dir=check_dir, seed=args.seed,
            scratch=self.scratch, queries=queries(), trace=bool(args.trace),
        )
        wl = self.cls(ctx)
        layer: dict = {}
        setup_s = self._setups(wl, layer, info)
        spark = ctx.spark
        info["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        info["spark"] = spark.version

        t0 = time.perf_counter()
        wl.warm_up()
        info["warm_s"] = time.perf_counter() - t0
        m = self._measure(wl, info)
        check = self._check(wl, layer, info)

        q_tail, tail = stats.tail_percentile(m.latencies, 0.90)
        n_ops = len(m.latencies)
        result = {
            "setup_s": (statistics.median(setup_s), f"median of {len(setup_s)} set-ups"),
            "pass_s": (statistics.median(m.pass_s), f"median of {len(m.pass_s)} passes"),
            "op_p50_s": (stats.nearest_rank(m.latencies, 0.5), f"p50 of {n_ops} ops"),
            "op_p90_s": (tail, f"p{round(q_tail * 100)} of {n_ops} ops (highest "
                         f"percentile up to p90 with >= {stats.MIN_TAIL_SAMPLES} "
                         "samples beyond it)"),
            "peak_rss_mb": (info["peak_rss_mb"], "Python process + JVM VmHWM"),
        }
        attempted = n_ops + check.attempted
        failed = len(m.failed) + len(check.failures)
        info.update(
            attempted=attempted, failed=failed, failures=m.failed + check.failures,
            error_rate=failed / attempted, passes=len(m.pass_s),
            setups=[round(s, 4) for s in setup_s], hygiene=m.hygiene, ops=m.op_log,
        )
        if args.trace:
            layer = {**per_layer(m.records, m.pass_layers, self.n), **layer}
        for name in m.hygiene[0]:
            layer[f"leak.{name}"] = stats.slope([h[name] for h in m.hygiene])
        return result, {"layer": layer, "info": info}

    def _setups(self, wl, layer: dict, info: dict) -> list[float]:
        """``SETUPS`` set-ups, each a session (re)start plus the workload's
        own set-up; the last one's session stays for the passes."""
        setup_s, starts, setup_layers = [], [], []
        for _ in range(SETUPS):
            self._reset_scratch(wl.keep_across_setups)
            t0 = time.perf_counter()
            wl.ctx.spark = self._start_session()
            starts.append(time.perf_counter() - t0)
            setup_layers.append(wl.setup())
            setup_s.append(time.perf_counter() - t0)
        layer["session.start_s"] = statistics.median(starts)
        for key in setup_layers[0]:
            layer[key] = statistics.median(s[key] for s in setup_layers)
        info["setup_layers"] = [
            {"session.start_s": round(t, 3), **{k: round(v, 3) for k, v in s.items()}}
            for t, s in zip(starts, setup_layers)
        ]
        return setup_s

    def _measure(self, wl, info: dict) -> SimpleNamespace:
        """Passes until ``--seconds`` have passed (at least one), one
        operation at a time, with the hygiene counters before and after
        each pass."""
        spark = wl.ctx.spark
        tracer = None
        if self.args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        m = SimpleNamespace(latencies=[], pass_s=[], failed=[], op_log=[],
                            records=[], pass_layers=[], hygiene=[self._hygiene()])
        t_run = time.perf_counter()
        p = 0
        while p == 0 or time.perf_counter() - t_run < self.args.seconds:
            ops = wl.pass_ops(p)
            snap = wl.layer_snapshot() if tracer is not None else {}
            t_pass = time.perf_counter()
            recs = []
            for op in ops:
                t0 = time.perf_counter()
                try:
                    if tracer is not None:
                        recs.append(tracer.run(op.name, op.build, _sink))
                    else:
                        _sink(op.build())
                    ok = True
                except Exception:
                    ok = False
                    m.failed.append(op.name)
                    print(f"perfbench: {op.name} failed:\n{traceback.format_exc()}",
                          file=sys.stderr)
                m.latencies.append(time.perf_counter() - t0)
                m.op_log.append((p, op.name, m.latencies[-1]))
                if ok and op.after is not None:
                    op.after()
            m.pass_s.append(time.perf_counter() - t_pass)
            m.records.append(recs)
            if tracer is not None:
                m.pass_layers.append(wl.pass_layer(snap, wl.layer_snapshot()))
            m.hygiene.append(self._hygiene())
            p += 1
        info["measure_s"] = time.perf_counter() - t_run
        # Read before the checks: DuckDB runs inside this process.
        info["peak_rss_mb"] = (
            _vm_hwm_kb(os.getpid()) + _vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
        ) / 1024
        if tracer is not None:
            tracer.close()
        return m

    def _check(self, wl, layer: dict, info: dict):
        """Correctness, outside the timed region; a check that raises
        counts as failed."""
        from workloads import Check

        check = Check()
        t0 = time.perf_counter()
        info["checked"] = []
        try:
            info["checked"] = wl.oracle_checks(check)
            wl.final_checks(check, layer)
        except Exception:
            check.expect(False, f"checks raised:\n{traceback.format_exc()}")
        info["check_s"] = time.perf_counter() - t0
        info["load_end"] = os.getloadavg()[0]
        info["gc_grace_s"] = {
            k: os.environ.get(k, "900 (engine default)")
            for k in ("PYCAIM_STORE_GC_GRACE", "PYCAIM_LAYOUT_GC_GRACE")
        }
        return check


def _sink(built) -> None:
    """Consume a DataFrame in the noop sink; eager calls return no frame."""
    from pyspark.sql import DataFrame

    if isinstance(built, DataFrame):
        built.write.format("noop").mode("overwrite").save()


def per_layer(passes: list[list], pass_layers: list[dict], n: int) -> dict:
    """Per-pass totals of the traced op records, median over passes."""
    rows = []
    for recs, extra in zip(passes, pass_layers):
        r = {k: 0.0 for k in PER_LAYER}
        r.update(extra)
        for rec in recs:
            st = rec.stage
            r["catalog.load_calls"] += rec.calls.get("catalog.load", 0)
            r["queries.build_s"] += rec.build_s
            r["queries.build_jobs"] += rec.build_jobs
            r["plan.analysis_s"] += rec.phases.get("analysis", 0.0)
            r["plan.optimization_s"] += rec.phases.get("optimization", 0.0)
            r["plan.planning_s"] += rec.phases.get("planning", 0.0)
            r["exec.s"] += rec.wall_s - rec.build_s
            r["exec.jobs"] += rec.jobs
            r["exec.stages"] += rec.stages
            r["exec.tasks"] += st["numTasks"]
            r["exec.executor_run_s"] += st["executorRunTime"] / 1e3
            r["exec.executor_cpu_s"] += st["executorCpuTime"] / 1e9
            r["exec.gc_s"] += st["jvmGcTime"] / 1e3
            r["exec.shuffle_read_bytes"] += (
                st["shuffleRemoteBytesRead"] + st["shuffleLocalBytesRead"]
            )
            r["exec.shuffle_write_bytes"] += st["shuffleWriteBytes"]
            r["exec.spill_bytes"] += st["diskBytesSpilled"]
            r["exec.input_bytes"] += st["inputBytes"]
            r["scan.file_bytes"] += rec.plan.get("filesSize", 0.0)
            r["exec.input_rows"] += st["inputRecords"]
            r["python.total_s"] += rec.plan.get("pythonTotalTime", 0.0)
            r["python.boot_s"] += rec.plan.get("pythonBootTime", 0.0)
            r["python.bytes_sent"] += rec.plan.get("pythonDataSent", 0.0)
            r["python.bytes_received"] += rec.plan.get("pythonDataReceived", 0.0)
            r["scan.files_read"] += rec.plan.get("numFiles", 0.0)
            r["scan.files_pruned"] += rec.counts.get("scan.files_pruned", 0)
            for metric, span in SPAN_METRICS.items():
                r[metric] += rec.spans.get(span, 0.0)
            for metric, ops in OP_METRICS.items():
                if rec.name in ops:
                    r[metric] += rec.wall_s
            for k in ("batches", "input_rows", "state_rows", "state_bytes"):
                r[f"stream.{k}"] += rec.stream.get(k, 0.0)
        # The pass's operations under tracing; the tracer's bookkeeping
        # between operations is not part of them.
        ops_s = sum(rec.wall_s for rec in recs)
        r["exec.cpu_share"] = r["exec.executor_cpu_s"] / (ops_s * n) if ops_s else 0.0
        r["trace.pass_s"] = ops_s
        rows.append(r)
    keys = {k for row in rows for k in row}
    return {k: statistics.median(row[k] for row in rows) for k in keys}


def _remove_dead_runs(runs: str) -> None:
    """Remove run directories whose process is gone (killed runs)."""
    for entry in os.listdir(runs) if os.path.isdir(runs) else ():
        try:
            os.kill(int(entry.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(runs, entry), ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def report(args, n: int, result: dict, info: dict, layer: dict) -> None:
    """Print the run record, every metric with its unit and sample count,
    and the JSON result as the last line."""
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace}")
    print(f"env nproc {os.cpu_count()} N {n} load1 start {info['load_start']:.2f} "
          f"end {info['load_end']:.2f} spark {info['spark']} java {info['java']} "
          f"python {platform.python_version()} commit {_commit(os.getcwd())}")
    print(f"datagen_s {info['datagen_s']:.3f} (first run in a checkout only)")
    print(f"store gc grace {info['gc_grace_s']}")
    print(f"setups {info['setups']} warm_s {info['warm_s']:.2f} passes {info['passes']} "
          f"measure_s {info['measure_s']:.2f} checks_s {info['check_s']:.2f}")
    for p, name, secs in info["ops"]:
        print(f"op pass {p} {name} {secs:.4f} s")
    for s in info["setup_layers"]:
        print(f"setup {json.dumps(s)}")
    print(f"checked against DuckDB: {' '.join(info['checked'])}")
    for i, h in enumerate(info["hygiene"]):
        print(f"hygiene {'before passes' if i == 0 else f'after pass {i}'} {json.dumps(h)}")
    if info["failures"]:
        for f in info["failures"]:
            print(f"FAILED {f}")
    print(f"error_rate {info['error_rate']:.4f} ({info['failed']} of "
          f"{info['attempted']} operations and checks)")
    if args.trace:
        metrics = {k: layer.get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
        for k in PER_LAYER:
            print(f"layer {k} = {metrics[k]:.6g} {units[k]}")
    else:
        metrics = {k: result[k][0] for k in END_TO_END}
        units = UNITS
        for k, (value, samples) in result.items():
            print(f"metric {k} = {value:.6g} {UNITS[k]} ({samples})")
        if "store.space_amp" in layer:
            print(f"metric space_amp = {layer['store.space_amp']:.4f} ratio")
    print(json.dumps({
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="caimspark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pycaim_spark", "registry.py")):
        _die("run from the root of a caimspark checkout (no pycaim_spark/ here)")
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _die(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    work = os.path.join(root, ".perfbench")
    _remove_dead_runs(os.path.join(work, "runs"))
    run_dir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    # A terminated run still stops Spark and removes its directories.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for sub in ("scratch", "local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # The engine reads these when it is imported and when the JVM starts.
    os.environ.update(
        PYCAIM_SCRATCH=os.path.join(run_dir, "scratch"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        PYCAIM_DRIVER_MEM=HEAP,
        PYCAIM_EXTRA_CONFS=";".join((
            "spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"spark.driver.extraJavaOptions=-Xms{HEAP} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        )),
    )
    sys.path.insert(0, root)
    bench = Bench(args, work, run_dir)
    try:
        result, extra = bench.run()
    finally:
        try:
            bench.stop()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    report(args, bench.n, result, extra["info"], extra["layer"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
