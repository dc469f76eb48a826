"""Layered benchmark for the spark-graft query engine.

    python3 perfbench/run.py --workload batch-heavy --seed 1 --seconds 10 --trace 0

Run from the repository root.  One closed-loop client (this process,
one thread) issues each operation only after the previous one has
completed, on ``local[<k>]`` with the process pinned to ``k``, half of
the CPUs it may use (``pin_cpus``).  The seed generates the input tables
and the operation order.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones.  A record of the run (context, per-op latencies,
failures, every metric) and, for a traced run, its spans are written
under ``.perfbench/records/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import datagen
import layers
import stats
import tracing
import workloads

PKG = tracing.PKG
SETUP_REPS = 3
OP_TIMEOUT_S = 120.0
CHECK_THREADS = 4
DRIVER_MEM = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class OracleThread(threading.Thread):
    """Runs each op's DuckDB twin over the generated tables, in order."""

    def __init__(self, sf_dir: str, sql: dict[str, str | None]) -> None:
        super().__init__(daemon=True)
        self.sf_dir, self.sql = sf_dir, sql
        self._done = {n: threading.Event() for n in sql}
        self._out: dict[str, object] = {}

    def run(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name, sql in self.sql.items():
                try:
                    if sql is None:
                        raise AssertionError(f"{name} has no DuckDB twin")
                    self._out[name] = con.execute(sql).fetchdf()
                except Exception as exc:  # re-raised by result()
                    self._out[name] = exc
                self._done[name].set()
        finally:
            con.close()
            for ev in self._done.values():
                ev.set()

    def result(self, name: str):
        self._done[name].wait()
        out = self._out.get(name)
        if out is None:
            raise RuntimeError(f"DuckDB twin of {name} did not run")
        if isinstance(out, Exception):
            raise out
        return out


class Bench:
    def __init__(self, args, root: str, run_dir: str) -> None:
        self.args = args
        self.wl = workloads.WORKLOADS[args.workload]
        self.root, self.run_dir = root, run_dir
        self.traced = bool(args.trace)
        self.spark = None
        self.attempted = 0
        self.failures: list[dict] = []
        self._lock = threading.Lock()
        self.tracer = tracing.Tracer()
        self.progress: list[dict] = []
        self.plan_log: list[dict] = []
        self.plan_sessions: dict[int, object] = {}  # JVM session by hash code
        self.rmse: list[float] = []

    # -- environment --------------------------------------------------
    def spark_conf(self) -> dict[str, str]:
        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            conf["spark.ui.retainedJobs"] = "1000000"
            conf["spark.ui.retainedStages"] = "1000000"
        return conf

    def context(self) -> dict:
        try:
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=self.root, capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or "unknown"
        except (OSError, subprocess.SubprocessError):
            sha = "unknown"
        import pyspark

        return {
            "workload": self.wl.name, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "sf": self.wl.sf, "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "host_cpus": os.cpu_count(),
            "driver_memory": os.environ["SPARK_DRIVER_MEM"], "git_sha": sha,
            "pyspark": pyspark.__version__, "load1": os.getloadavg()[0],
            "cwd": self.root, "python": sys.version.split()[0],
        }

    # -- set-up -------------------------------------------------------
    def setup_once(self, rep: int) -> float:
        t0 = time.perf_counter()
        if rep:
            self.spark.stop()
            for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
                del sys.modules[name]
        self.registry = importlib.import_module(f"{PKG}.plans.registry")
        session = importlib.import_module(f"{PKG}.session")
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.wl.name}", extra_conf=self.spark_conf()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.attempt("setup", self.wl.probe, lambda: self.run_op(self.wl.probe))
        return time.perf_counter() - t0

    # -- operations ---------------------------------------------------
    def attempt(self, phase: str, name: str, fn):
        """Run ``fn`` once, counting it; a raise or timeout is a failure.

        Returns ``fn``'s result (True for None), or None on failure."""
        with self._lock:
            self.attempted += 1
        timed_out = threading.Event()

        def cancel() -> None:
            timed_out.set()
            self.spark.sparkContext.cancelAllJobs()

        timer = threading.Timer(OP_TIMEOUT_S, cancel)
        timer.daemon = True
        timer.start()
        try:
            out = fn()
        except Exception as exc:  # one failed op must not end the run
            self._fail(phase, name, "timeout" if timed_out.is_set() else repr(exc)[:500],
                       traceback.format_exc()[-4000:])
            return None
        finally:
            timer.cancel()
        if timed_out.is_set():
            self._fail(phase, name, "timeout", "")
            return None
        return True if out is None else out

    def _fail(self, phase: str, name: str, error: str, tb: str) -> None:
        with self._lock:
            self.failures.append({"phase": phase, "op": name, "error": error, "traceback": tb})

    def run_op(self, name: str):
        if name in workloads.ML_OPS:
            return self.fit_seqreg()
        df = self.registry.QUERIES[name](self.spark, self.sf_dir)
        df.write.format("noop").mode("overwrite").save()

    def fit_seqreg(self) -> float:
        """One fit+predict+score of the sequence regressor on the run's
        tracking fixture; returns its official-metric RMSE (yards).
        Raises unless it beats the constant-velocity physics baseline,
        the anchor ``tests/test_ml.py`` holds it to."""
        seqreg = importlib.import_module(f"{PKG}.ml.seqreg")
        r = seqreg.train_and_predict_seq(
            *self.tracking, k=5,
            cfg=seqreg.SeqRegConfig(huber_delta=1.0, irls_iters=2, horizon_decay=0.9),
        )
        if not r.rmse_seq < r.rmse_baseline:
            raise AssertionError(
                f"seqreg rmse {r.rmse_seq} not below baseline {r.rmse_baseline}"
            )
        with self._lock:
            self.rmse.append(r.rmse_seq)
        return r.rmse_seq

    def run_op_traced(self, name: str, row: dict) -> None:
        """``run_op`` inside layer spans.  Catalyst phase times come from
        the ``QueryExecution`` that actually runs: analysis from the
        DataFrame's own (done while ``plans.build`` is open), optimization
        and planning from the noop write's (done inside ``execute``); see
        ``tracing.make_plan_listener``."""
        t = self.tracer
        depth = len(t._stack)
        try:
            if name in workloads.ML_OPS:
                s = t.begin("ml.fit", layer="ml")
                self.fit_seqreg()
                t.end(s)
                return
            s = t.begin("plans.build", layer="plans")
            df = self.registry.QUERIES[name](self.spark, self.sf_dir)
            t.end(s)
            row["analysis"] = tracing.analysis_s(df)
            self.listen_to(df.sparkSession)  # a stream op's result lives on its twin
            seen = len(self.plan_log)
            s = t.begin("execute", layer="execute")
            df.write.format("noop").mode("overwrite").save()
            t.end(s)
            row["execute_s"] = s["end"] - s["start"]
            tracing.flush_listener_bus(self.spark)
            writes = [r for r in self.plan_log[seen:] if r["func"] == "overwrite"]
            if not writes or writes[-1].get("failed"):
                raise RuntimeError(f"no completed noop write reported for {name}")
            for k in ("optimization", "planning", "python_nodes"):
                row[k] = writes[-1][k]
        finally:
            while len(t._stack) > depth:
                t.end(t.spans[t._stack[-1]])

    def listen_to(self, session) -> None:
        """Register the plan listener on ``session`` once."""
        js = session._jsparkSession
        key = js.hashCode()
        if key not in self.plan_sessions:
            tracing.register_plan_listener(js, self.plan_listener)
            self.plan_sessions[key] = js

    def check_pass(self) -> None:
        """Each op once, outside the timed region, checked against its
        DuckDB twin (``ORACLES``), then each query op ``warm_runs`` more
        times the way the window runs it (to the noop sink), so the
        window's first pass is warm too.  The twins run on their own
        thread while Spark computes the ops."""
        sys.path.insert(0, os.path.join(self.root, "tests"))
        try:
            from oracle_check import compare
        finally:
            sys.path.pop(0)
        twins = OracleThread(self.sf_dir, {
            n: self.registry.ORACLES.get(n) for n in self.wl.ops
            if n not in workloads.ML_OPS
        })
        twins.start()

        def check(name: str) -> bool:
            if name in workloads.ML_OPS:
                self.fit_seqreg()  # raises unless it beats the baseline
                return True
            got = self.registry.QUERIES[name](self.spark, self.sf_dir).toPandas()
            problems = compare(name, got, twins.result(name))
            if problems:
                raise AssertionError("; ".join(problems[:3]))
            return True

        def timed_check(name: str) -> dict:
            t0 = time.perf_counter()
            ok = self.attempt("check", name, lambda: check(name))
            out = {"ok": bool(ok), "s": time.perf_counter() - t0}
            if name not in workloads.ML_OPS:
                for _ in range(self.wl.warm_runs):
                    self.attempt("warm", name, lambda: self.run_op(name))
            return out

        # Several client threads here: nothing is timed, and the
        # package is built to be queried from a thread pool.  The model
        # op is the slowest check, so it starts first.
        ops = sorted(self.wl.ops, key=lambda n: n not in workloads.ML_OPS)
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            self.checks = dict(zip(ops, pool.map(timed_check, ops)))
        twins.join()

    # -- the timed window ---------------------------------------------
    def window(self, order: list[str]) -> list[dict]:
        """Closed loop over ``order`` for ``--seconds``.

        Passes are whole: a pass that starts before the deadline runs to
        its end, so every op has the same number of samples and every
        run of a workload measures the same mix.  A traced run
        alternates untraced and traced passes, at least untraced,
        traced, untraced, so the tracing overhead is measured inside
        one run with a traced pass between two untraced ones (the
        first passes are still warming up)."""
        passes: list[dict] = []
        t_end = time.perf_counter() + self.args.seconds
        min_passes = 3 if self.traced else 1
        while True:
            traced = self.traced and len(passes) % 2 == 1
            passes.append(self.one_pass(order, len(passes), traced))
            if time.perf_counter() >= t_end and len(passes) >= min_passes:
                return passes

    def one_pass(self, order, idx: int, traced: bool) -> dict:
        t = self.tracer
        if traced:
            tracing.flush_listener_bus(self.spark)  # progress of earlier passes
            t.active = True
            ckpt0 = tracing.ckpt_bytes(self.run_dir)
        ops = []
        w0, p0 = time.time(), time.perf_counter()
        for name in order:
            row = {"op": name, "pass": idx}
            op_id = len(self.ops_log) + len(ops)
            t.op = op_id if traced else None
            a = time.perf_counter()
            if traced:
                span = t.begin("op", query=name, pass_no=idx)
                ok = self.attempt("timed", name, lambda: self.run_op_traced(name, row))
                t.end(span)
            else:
                ok = self.attempt("timed", name, lambda: self.run_op(name))
            row["latency_s"] = time.perf_counter() - a
            row["ok"] = bool(ok)
            row["id"] = op_id
            ops.append(row)
        t.op = None
        out = {"pass": idx, "traced": traced, "start": w0,
               "wall_s": time.perf_counter() - p0, "ops": ops}
        if traced:
            tracing.flush_listener_bus(self.spark)
            out["end"] = time.time()
            out["ckpt_bytes"] = tracing.ckpt_bytes(self.run_dir) - ckpt0
            t.active = False
        self.ops_log.extend(ops)
        return out

    # -- whole run ----------------------------------------------------
    def run(self) -> dict:
        ctx = self.context()
        self.sf_dir = os.path.join(self.run_dir, "data")
        t0 = time.perf_counter()
        ctx["rows"] = datagen.generate(self.sf_dir, self.args.seed, self.wl.sf)
        clock = {"datagen": time.perf_counter() - t0}
        t0 = time.perf_counter()
        setup = [self.setup_once(rep) for rep in range(SETUP_REPS)]
        clock["setup"] = time.perf_counter() - t0
        if any(n in workloads.ML_OPS for n in self.wl.ops):
            testing = importlib.import_module(f"{PKG}.testing")
            self.tracking = testing.make_tracking_tables(self.spark, seed=self.args.seed)
        t0 = time.perf_counter()
        self.check_pass()
        clock["check"] = time.perf_counter() - t0
        t0 = time.perf_counter()

        order = self.wl.pass_ops()
        random.Random(self.args.seed).shuffle(order)
        self.ops_log: list[dict] = []
        if self.traced:
            self.tracer.install()
            listener = tracing.make_progress_listener(self.tracer, self.progress)
            self.spark.streams.addListener(listener)
            tracing.attach_listener_to_stream_sessions(self.tracer, listener)
            self.plan_listener = tracing.make_plan_listener(self.plan_log)
            self.listen_to(self.spark)
        cpu0 = cpu_times()
        passes = self.window(order)
        clock["window"] = time.perf_counter() - t0
        ctx["window_steal"] = steal_share(cpu0, cpu_times())
        self.tracer.uninstall()
        for js in self.plan_sessions.values():
            js.listenerManager().unregister(self.plan_listener)

        plain = [o for p in passes if not p["traced"] for o in p["ops"]]
        lat = [o["latency_s"] for o in plain]
        tl = stats.tail(lat)
        per_op = {
            n: stats.median([o["latency_s"] for o in plain if o["op"] == n])
            for n in self.wl.ops
        }
        e2e = {
            "setup_s": stats.median(setup),
            # one pass = every op once, each at its median latency
            "wall_s": sum(per_op.values()),
            "op_p50_s": stats.median(lat),
        }
        failed = len(self.failures)
        rec = {
            "context": ctx,
            "clock_s": clock,
            "setup_s_reps": setup,
            "order": order,
            "checks": self.checks,
            "passes": [{k: v for k, v in p.items() if k != "ops"} for p in passes],
            "ops": self.ops_log,
            "op_samples": len(lat),
            "op_median_s": per_op,
            "op_tail": tl,
            "train_rmse": self.rmse,
            "attempted": self.attempted,
            "failed": failed,
            "failed_ratio": failed / self.attempted,
            "failures": self.failures,
            "end_to_end": e2e,
        }
        if self.traced:
            rec["per_layer"], rec["spans"] = layers.compute(
                passes, self.tracer.spans, tracing.spark_jobs(self.spark), self.progress
            )
            rec["per_layer"]["ml.train_rmse"] = (
                stats.median(self.rmse) if self.rmse else 0.0
            )
        return rec


def result_line(rec: dict, traced: bool) -> dict:
    metrics = rec["per_layer"] if traced else rec["end_to_end"]
    units = workloads.UNITS
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {
            stats.check_metric_name(k): {"value": v, "unit": units[k]}
            for k, v in metrics.items()
        },
    }


def pin_cpus() -> int:
    """Pin this process, and with it the JVM and the Python workers it
    starts, to the first half of the CPUs it may use (at least one);
    return how many it keeps.

    On a shared 4-vCPU virtual machine, runs on all four vCPUs had up to
    34% of the CPU time stolen by other guests and ran up to 2.5x slower
    than on a quiet host, while runs pinned to two had at most 3% of
    their CPUs' time stolen (README, "Steadiness on a shared host")."""
    cpus = sorted(os.sched_getaffinity(0))
    keep = cpus[: max(1, len(cpus) // 2)]
    os.sched_setaffinity(0, keep)
    return len(keep)


def prepare_env(run_dir: str, root: str) -> None:
    cpus = str(pin_cpus())
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp
    if root not in sys.path:
        sys.path.insert(0, root)


def stop_jvm(bench: Bench) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit.
    The JVM may be up before the session is (a run stopped during
    set-up), so the gateway is shut down either way."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if bench.spark is not None:
        bench.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def cpu_times() -> list[int]:
    """Summed /proc/stat times of the CPUs this process is pinned to."""
    mine = {f"cpu{c}" for c in os.sched_getaffinity(0)}
    total: list[int] = []
    with open("/proc/stat") as fh:
        for line in fh:
            f = line.split()
            if f and f[0] in mine:
                xs = [int(x) for x in f[1:]]
                total = [a + b for a, b in zip(total, xs)] if total else xs
    return total


def steal_share(a: list[int], b: list[int]) -> float:
    """Share of the pinned CPUs' time stolen by other guests between two
    samples."""
    d = [y - x for x, y in zip(a, b)]
    return d[7] / max(1, sum(d)) if len(d) > 7 else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "plans", "registry.py")):
        print(f"perfbench: {PKG}/ not found under {root}; run from the repo root",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    bench = Bench(args, root, run_dir)
    try:
        prepare_env(run_dir, root)
        rec = bench.run()
    finally:
        stop_jvm(bench)
        shutil.rmtree(run_dir, ignore_errors=True)

    stem = os.path.join(
        base, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}"
    )
    spans = rec.pop("spans", None)
    with open(stem + ".json", "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    if spans is not None:
        with open(stem + ".spans.json", "w") as fh:
            json.dump(spans, fh, default=str)
    line = result_line(rec, bool(args.trace))
    for f in rec["failures"]:
        print(f"perfbench: FAILED {f['phase']} {f['op']}: {f['error']}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} attempted={rec['attempted']} "
        f"failed={rec['failed']} failed_ratio={rec['failed_ratio']:.4f} "
        f"op_samples={rec['op_samples']} tail_pct={rec['op_tail']['pct']}",
        file=sys.stderr,
    )
    for k, m in line["metrics"].items():
        print(f"perfbench:   {k} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
