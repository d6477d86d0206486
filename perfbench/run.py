"""Point-in-time feature engine benchmark.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

One closed-loop client on ``local[<cores>]``: the next op starts only
after the previous one has finished and been checked. Each op is one
whole batch job of the workload (see ``workloads.py``), checked against
a pandas oracle outside its timed span; an op that raises or fails its
check counts as failed. Ops run until their summed wall time reaches
``--seconds``.

``--trace 0`` prints the end-to-end metrics named in ``BENCHMARK.json``:
the median over ops of input rows per second of op wall time, and the
set-up time, the median of three set-ups (session start, input
registration, one warm-up op; the first also starts the JVM, the others
restart the Spark context in it). ``--trace 1`` runs ops with spans
around every call into the engine's layers and prints the per-layer
metrics instead (0 for a layer the workload's op does not reach); it
also writes spans and metrics to ``.perfbench/traces/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Everything else the
run writes goes under ``.perfbench/`` in the checkout and is removed at
the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
RSS_PERIOD_S = 0.5
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- processes ----------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out += kids.get(p, [])
        todo += kids.get(p, [])
    return out


def rss_mb(pids) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024.0


class PeakRss:
    """Samples the RSS of this process and all its descendants (driver
    JVM, Python workers) every ``RSS_PERIOD_S`` while active."""

    def __init__(self):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb([me, *descendants(me)]))
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def stop_spark() -> None:
    """Stop the session, then the JVM the Python driver launched, and
    wait for every process this run started."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
    deadline = time.monotonic() + 30
    while procs and time.monotonic() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# -- run ----------------------------------------------------------------
class Bench:
    def __init__(self, args, scratch: str):
        from workloads import WORKLOADS

        self.args = args
        self.scratch = scratch
        self.cores = len(os.sched_getaffinity(0))
        self.wl = WORKLOADS[args.workload](os.path.join(scratch, "inputs"), args.seed)
        self._n = 0

    def session(self, cores: int | None = None):
        from feature_engineering_tk_spark.functions import strings
        from feature_engineering_tk_spark.session import get_spark

        # only where Spark writes: every engine default stays as shipped
        spark = get_spark(
            master=f"local[{cores or self.cores}]",
            app_name="perfbench",
            extra_conf={
                "spark.local.dir": os.path.join(self.scratch, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.scratch}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        # strings caches its pandas UDF, which holds the Python accumulator
        # of the context that built it; a fresh process starts without it
        strings._title_udf_cache = None
        return spark

    def opdir(self) -> str:
        self._n += 1
        d = os.path.join(self.scratch, "ops", str(self._n))
        os.makedirs(d)
        return d

    def run_op(self, spark, tr) -> tuple[float, dict]:
        d = self.opdir()
        t0 = time.perf_counter()
        res = self.wl.op(spark, d, tr)
        res["opdir"] = d
        return time.perf_counter() - t0, res

    def clean(self, res: dict) -> None:
        shutil.rmtree(res["opdir"], ignore_errors=True)

    def setups(self):
        """SETUPS set-ups; each is session start + input registration +
        one warm-up op. Input generation between the first session start
        and its registration is not counted."""
        from tracing import NoTracer

        times, spark = [], None
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = self.session()
            t_session = time.perf_counter() - t0
            if i == 0:
                self.wl.generate(spark)
                log(f"inputs generated: {self.wl.rows} rows per op")
            t1 = time.perf_counter()
            self.wl.register(spark)
            _, res = self.run_op(spark, NoTracer())
            times.append(t_session + time.perf_counter() - t1)
            log(f"set-up {i + 1}: {times[-1]:.2f}s (session {t_session:.2f}s)")
            self.clean(res)
        return spark, statistics.median(times)

    def measure(self) -> dict:
        from tracing import NoTracer

        spark, setup_s = self.setups()
        _, res = self.run_op(spark, NoTracer())  # the measuring context's own warm-up
        self.clean(res)
        steal0 = cpu_steal()
        rates, busy, attempted, failed = [], 0.0, 0, 0
        while busy < self.args.seconds:
            attempted += 1
            t0 = time.perf_counter()
            try:
                dt, res = self.run_op(spark, NoTracer())
            except Exception:
                busy += time.perf_counter() - t0
                failed += 1
                traceback.print_exc()
                continue
            busy += dt
            rates.append(self.wl.rows / dt)
            log(f"op {attempted}: {dt:.3f}s")
            try:
                self.wl.check(spark, res)
            except Exception as e:  # an error inside the check fails the op too
                failed += 1
                print(f"op {attempted} failed its check: {e}", file=sys.stderr)
            self.clean(res)
        steal = cpu_steal()
        log(f"CPU stolen by the host while measuring: {100 * (steal[0] - steal0[0]) / max(steal[1] - steal0[1], 1):.1f}%")
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "values": {
                "rows_per_s": statistics.median(rates) if rates else 0.0,
                "setup_s": setup_s,
            },
        }

    def trace(self) -> dict:
        from tracing import NoTracer, Tracer, spark_totals, stage_metrics, sum_stages

        t0 = time.perf_counter()
        spark = self.session()
        start_s = time.perf_counter() - t0
        self.wl.generate(spark)
        self.wl.register(spark)
        for _ in range(2):  # warm-up
            _, res = self.run_op(spark, NoTracer())
            self.clean(res)

        attempted = failed = 0
        plain, traced = [], []
        tr = Tracer(spark)
        with PeakRss() as rss:
            for i in range(4):
                dt, res = self.run_op(spark, tr if i % 2 else NoTracer())
                attempted += 1
                (traced if i % 2 else plain).append(dt)
                try:
                    self.wl.check(spark, res)
                except Exception as e:
                    failed += 1
                    print(f"op {attempted} failed its check: {e}", file=sys.stderr)
                if i < 3:
                    self.clean(res)
        op_span = res["span"]
        op_stages = sum_stages(stage_metrics(spark), tr.stages(op_span))
        values = {
            "session.start_s": start_s,
            "process.peak_rss_mb": rss.peak,
            "trace.overhead_s": statistics.median(traced) - statistics.median(plain),
            "sources.input_bytes": op_stages["inputBytes"],
            **spark_totals(op_stages, tr.duration(op_span), self.cores),
        }
        values |= self.wl.layers(spark, tr, res)
        self.clean(res)

        # the same op on one core: rows/s(local[n]) / (n * rows/s(local[1]))
        spark.stop()
        spark = self.session(cores=1)
        self.wl.register(spark)
        for _ in range(2):  # the first op in a new context pays its start-up
            dt1, res = self.run_op(spark, NoTracer())
            self.clean(res)
        values["spark.scaling_eff_1_to_n"] = (1 / statistics.median(plain)) / (self.cores / dt1)

        out = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        tr.dump(os.path.join(out, f"{self.args.workload}-seed{self.args.seed}.json"), values)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "values": values}


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("feature_engineering_tk_spark/session.py", "jobs/feature_job.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    scratch = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(scratch)
    # Python workers must import the engine to unpickle its functions, and
    # every temp file Spark or Python makes stays in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = scratch
    sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)), ROOT, os.path.join(ROOT, "jobs")]

    try:
        bench = Bench(args, scratch)
        result = bench.trace() if args.trace else bench.measure()
    finally:
        stop_spark()
        shutil.rmtree(scratch, ignore_errors=True)

    values = result.pop("values")
    if args.trace:  # a layer the workload's op does not reach did no work
        values = {m["name"]: 0.0 for m in wanted} | values
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    result["metrics"] = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
