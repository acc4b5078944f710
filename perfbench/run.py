"""Lake benchmark: run one workload of declared queries and print its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload short_queries --seed 1 --seconds 10 --trace 0

One process is one closed-loop client. Each call is ``fn(spark, lake)``
followed by a ``noop`` write, and the next call starts only after the
previous one returns. The session is ``local[<cores>]`` with
``SPARK_GRAFT_CPUS=<cores>``.

A run goes through these steps:

1. Make the lake, once per checkout: ``scripts/gen_sf.py`` at a tenth
   of sf0.1 rows with data seed 42, under ``.perfbench_work/``.
2. Put the workload's publish-if-absent caches into one state, once per
   checkout: a separate process runs every call of the workload once, so
   every measured run starts with them built.
3. Set-up (``setup_s``): session start, a full scan of every lake table,
   and one untimed warm pass in seeded order. The warm pass collects each
   result instead of writing it to ``noop``; the rows are checked against
   the DuckDB oracle outside the set-up clock.
4. Timed passes, each in its own seeded shuffle, until ``--seconds`` of
   call time has been measured. A ``System.gc()`` runs before each call,
   outside the timing. The ``q04`` control is timed at the start, the
   middle and the end.
5. With ``--trace 1``, passes alternate untraced and traced, and the
   per-layer metrics come from the traced ones.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything else the run saw
goes to a uniquely named artifact under ``.perfbench_work/runs/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import resource
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE_DIR = os.path.join(ROOT, "data_lake_project_spark")
GEN_SF = os.path.join(ROOT, "scripts", "gen_sf.py")

LAKE_MULT = 0.1  # rows relative to sf0.1: an sf0.01-sized lake
LAKE_SEED = 42
LAKE_DIR = os.path.join(WORK, "lake-sf0.01")
CALL_TIMEOUT_S = 60
# A run must finish within 180 s: no pass starts that would, by the length
# of the last one, end later than this many seconds into the timed part.
LAST_PASS_START_S = 110

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import stats  # noqa: E402
from workloads import CONTROL, WORKLOADS  # noqa: E402


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def configure_env(cores: int) -> dict[str, str]:
    """Keep the run's temporary files inside the checkout; returns the
    extra Spark conf for the session."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_MASTER", None)
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


def ensure_lake() -> None:
    if os.path.exists(os.path.join(LAKE_DIR, ".complete")):
        return
    spec = importlib.util.spec_from_file_location("_gen_sf", GEN_SF)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    tmp = f"{LAKE_DIR}.tmp-{os.getpid()}"
    gen.generate(tmp, LAKE_MULT, LAKE_SEED)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, LAKE_DIR)


def ensure_prepared(workload: str) -> None:
    """Build the workload's publish-if-absent caches in a child process,
    once per checkout, so the measured process never pays for them."""
    marker = os.path.join(WORK, f"prepared-{workload}")
    if os.path.exists(marker):
        return
    log(f"preparing {workload} (first run in this checkout)")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--prepare",
         "--workload", workload],
        check=True,
        timeout=600,
    )
    open(marker, "w").close()


def _descendants(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except FileNotFoundError:
            continue
        for k in kids:
            out.append(k)
            out.extend(_descendants(k))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(")")[-1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers it started, and
    wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    kids = _descendants(jvm_pid)
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 10
    while any(_alive(k) for k in kids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for k in kids:
        if _alive(k):
            os.kill(k, signal.SIGKILL)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine since boot."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class StealClock:
    """Wall seconds with the host's CPU steal taken out.

    On a shared virtual machine the host runs other guests on our vCPUs;
    while it does, wall time passes and the engine makes no progress.
    Over an interval in which the host stole a share ``s`` of the
    machine's CPU time, ``wall * (1 - s)`` takes that time out. It
    narrows the host's effect without removing it: on the 4-vCPU guest
    this was measured on, a call slowed by about twice ``s``. The raw
    wall time is kept next to it in the artifact."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.j0 = cpu_jiffies()

    def read(self) -> tuple[float, float, float]:
        """(steal-free seconds, wall seconds, steal share) since start."""
        wall = time.perf_counter() - self.t0
        steal1, total1 = cpu_jiffies()
        share = (steal1 - self.j0[0]) / max(1, total1 - self.j0[1])
        return wall * (1.0 - share), wall, share


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    def __init__(self, args, cores: int, spark_conf: dict[str, str]):
        self.args = args
        self.cores = cores
        self.spark_conf = spark_conf
        self.calls = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.controls: list[float] = []
        self.failures: dict[str, str] = {}
        self.tracer = None

    def order(self) -> list[str]:
        order = list(self.calls)
        self.rng.shuffle(order)
        return order

    def start(self) -> float:
        from data_lake_project_spark.queries import QUERIES
        from data_lake_project_spark.session import get_spark

        self.queries = QUERIES
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self.spark_conf)
        self.jvm = self.spark.sparkContext._jvm
        return time.perf_counter() - t0

    def control(self) -> float:
        self.jvm.System.gc()
        t0 = time.perf_counter()
        noop(self.queries[CONTROL](self.spark, LAKE_DIR))
        return time.perf_counter() - t0

    def call(self, name: str, traced: bool = False):
        """One timed call; returns its sample and, when traced, the trace
        record."""
        sc = self.spark.sparkContext
        self.jvm.System.gc()
        timed_out = threading.Event()

        def cancel():
            timed_out.set()
            sc.cancelAllJobs()

        timer = threading.Timer(CALL_TIMEOUT_S, cancel)
        tr = self.tracer if traced else None
        if tr:
            tr.begin_call(name)
        jobs0 = self._next_job_id()
        timer.start()
        clock = StealClock()
        ok = True
        try:
            if tr:
                with tr.build(name):
                    df = self.queries[name](self.spark, LAKE_DIR)
                with tr.span("plan", "action.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("write", "action.write"):
                    noop(df)
            else:
                noop(self.queries[name](self.spark, LAKE_DIR))
        except Exception as e:  # a failed call is counted, the run goes on
            ok = False
            log(f"{name} raised {type(e).__name__}: {str(e)[:300]}")
        finally:
            timer.cancel()
        dt, wall, steal = clock.read()
        if timed_out.is_set():
            ok = False
            log(f"{name} timed out after {CALL_TIMEOUT_S}s")
        sample = {
            "name": name, "s": dt, "wall_s": wall, "steal": steal, "ok": ok,
            "jobs": self._next_job_id() - jobs0,
        }
        return sample, (tr.end_call() if tr else None)

    def warm_and_check(self, oracle) -> float:
        """The untimed warm pass; returns the seconds it spent outside the
        oracle check."""
        spent = 0.0
        for name in self.order():
            t0 = time.perf_counter()
            self.jvm.System.gc()
            try:
                df = self.queries[name](self.spark, LAKE_DIR)
                rows = [tuple(r) for r in df.collect()]
            except Exception as e:
                self.failures[name] = f"raised {type(e).__name__}: {str(e)[:300]}"
                continue
            finally:
                spent += time.perf_counter() - t0
            try:
                why = oracle.mismatch(name, df.columns, rows)
            except Exception as e:  # an oracle that cannot run fails the call
                why = f"check raised {type(e).__name__}: {str(e)[:300]}"
            if why:
                self.failures[name] = why
        return spent

    def timed_passes(self) -> list[dict]:
        traced_mode = self.args.trace == 1
        passes: list[dict] = []
        measured = 0.0
        mid_done = False
        t_begin = time.monotonic()
        while True:
            traced = traced_mode and len(passes) % 2 == 1
            if traced:
                self.tracer.install()
            p = {"traced": traced, "calls": [], "records": []}
            try:
                for name in self.order():
                    sample, rec = self.call(name, traced)
                    measured += sample["wall_s"]
                    p["calls"].append(sample)
                    if rec is not None:
                        p["records"].append(rec)
                    if not mid_done and measured >= self.args.seconds / 2:
                        self.controls.append(self.control())
                        mid_done = True
            finally:
                if traced:
                    self.tracer.uninstall()
            p["jobs"] = sum(c["jobs"] for c in p["calls"])
            p["pass_s"] = sum(c["s"] for c in p["calls"])
            p["wall_s"] = sum(c["wall_s"] for c in p["calls"])
            passes.append(p)
            if traced_mode and len(passes) < 2:
                continue  # a traced run needs an untraced and a traced pass
            out_of_time = time.monotonic() - t_begin + p["pass_s"] > LAST_PASS_START_S
            if measured >= self.args.seconds or out_of_time:
                return passes

    def _next_job_id(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def execute(self, setup_clock: StealClock) -> tuple[dict, dict]:
        from data_lake_project_spark.tables import TABLES, load_table
        from oracle import Oracle

        load_start = os.getloadavg()[0]
        steal0, total0 = cpu_jiffies()
        start_s = self.start()
        t_tables0 = time.perf_counter()
        for t in TABLES:
            noop(load_table(self.spark, LAKE_DIR, t))
        tables_warm_s = time.perf_counter() - t_tables0
        oracle = Oracle(ROOT, LAKE_DIR)
        t_warm0 = time.perf_counter()
        warm_spent = self.warm_and_check(oracle)
        check_s = (time.perf_counter() - t_warm0) - warm_spent
        oracle.close()
        self.control()  # warm the control too, so its first stamp is not cold
        _, setup_wall, setup_steal = setup_clock.read()
        setup_s = (setup_wall - check_s) * (1.0 - setup_steal)
        if self.args.trace == 1:
            from tracer import Tracer

            self.tracer = Tracer(self.spark)
        self.controls.append(self.control())
        passes = self.timed_passes()
        self.controls.append(self.control())
        rss = peak_rss_mb(self.spark)
        t_stop0 = time.perf_counter()
        stop_spark(self.spark)
        stop_s = time.perf_counter() - t_stop0
        load_end = os.getloadavg()[0]
        steal1, total1 = cpu_jiffies()

        timed = [c for p in passes for c in p["calls"]]
        failed = sum(1 for c in timed if not c["ok"] or c["name"] in self.failures)
        latencies = [c["s"] for c in timed]
        tail = stats.tail_percentile(len(latencies))
        steal = (steal1 - steal0) / max(1, total1 - total0)
        suspect = stats.suspect_reasons(load_start, load_end, self.cores, self.controls, steal)
        untraced = [p for p in passes if not p["traced"]]
        result = {
            "correct": not self.failures and failed == 0,
            "attempted": len(timed),
            "failed": failed,
        }
        if self.args.trace == 1:
            layers = [stats.pass_layers(p["records"], self.cores) for p in passes if p["traced"]]
            warm_s = setup_wall - check_s - start_s
            metrics = self._layer_metrics(passes, layers, start_s, warm_s)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (statistics.median(p["pass_s"] for p in untraced), "s"),
                "call_p50_s": (statistics.median(latencies), "s"),
                "peak_rss_mb": (rss, "MB"),
            }
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        artifact = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "cores": self.cores,
            "lake": {"dir": LAKE_DIR, "mult_of_sf0.1": LAKE_MULT, "seed": LAKE_SEED},
            "loadavg_start": load_start,
            "loadavg_end": load_end,
            "cpu_steal_share": steal,
            "controls_s": self.controls,
            "suspect": bool(suspect),
            "suspect_reasons": suspect,
            "setup": {
                "setup_s": setup_s,
                "wall_s": setup_wall,
                "steal": setup_steal,
                "session_start_s": start_s,
                "tables_warm_s": tables_warm_s,
                "oracle_check_s": check_s,
            },
            "failures": self.failures,
            "failed_ratio": stats.failed_ratio(failed, len(timed)) if timed else None,
            "call_samples": len(latencies),
            "call_p50_s": statistics.median(latencies) if latencies else None,
            "call_tail": (
                {"percentile": tail, "s": stats.percentile(latencies, tail)} if tail else None
            ),
            "peak_rss_mb": rss,
            "stop_s": stop_s,
            "passes": [
                {k: v for k, v in p.items() if k != "records"} for p in passes
            ],
            "result": result,
        }
        if self.args.trace == 1:
            artifact["layers_per_traced_pass"] = layers
            spans = self.tracer.spans
            self_s = stats.self_times(spans)
            layer_self: dict[str, float] = {}
            for s in spans:
                layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + self_s[s["id"]]
            artifact["layer_self_s_all_traced_passes"] = layer_self
            artifact["spans"] = spans
        return result, artifact

    def _layer_metrics(self, passes, per_pass, start_s: float, warm_s: float) -> dict:
        traced = [p for p in passes if p["traced"]]
        untraced = [p for p in passes if not p["traced"]]
        out = {"session.start_s": (start_s, "s"), "session.warm_s": (warm_s, "s")}
        for name, unit in stats.LAYER_METRICS.items():
            out[name] = (statistics.median(lp[name] for lp in per_pass), unit)
        # per-layer seconds are raw span durations, so they are shares of
        # the traced pass's raw wall time; the overhead compares the
        # steal-adjusted passes
        t_pass = statistics.median(p["pass_s"] for p in traced)
        u_pass = statistics.median(p["pass_s"] for p in untraced)
        n = len(self.calls)
        out["trace.pass_s"] = (statistics.median(p["wall_s"] for p in traced), "s")
        out["trace.overhead"] = (t_pass / u_pass, "ratio")
        out["trace.jobs_per_call_delta"] = (
            statistics.median(p["jobs"] for p in traced) / n
            - statistics.median(p["jobs"] for p in untraced) / n,
            "count",
        )
        return out


def prepare(args, spark_conf: dict[str, str]) -> None:
    from data_lake_project_spark.queries import QUERIES
    from data_lake_project_spark.session import get_spark

    spark = get_spark("perfbench-prepare", extra_conf=spark_conf)
    try:
        for name in WORKLOADS[args.workload]:
            noop(QUERIES[name](spark, LAKE_DIR))
    finally:
        stop_spark(spark)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(PACKAGE_DIR) and os.path.isfile(GEN_SF)):
        log(f"no lake engine under {ROOT}: run from the repository root")
        return 2
    cores = len(os.sched_getaffinity(0))
    spark_conf = configure_env(cores)
    ensure_lake()
    if args.prepare:
        prepare(args, spark_conf)
        return 0
    ensure_prepared(args.workload)
    setup_clock = StealClock()
    run = Run(args, cores, spark_conf)
    result, artifact = run.execute(setup_clock)
    runs_dir = os.path.join(WORK, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    path = os.path.join(
        runs_dir,
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json",
    )
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    flag = "SUSPECT " + "; ".join(artifact["suspect_reasons"]) if artifact["suspect"] else "clean"
    print(
        f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
        f"calls={result['attempted']} failed={result['failed']} {flag} artifact={path}"
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
