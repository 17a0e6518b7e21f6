"""Benchmark entry point.

    python3 perfbench/run.py --workload transform_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. One process is a single closed-loop client:
the next op starts when the previous one has finished. Spark runs as
``local[N]`` with N = nproc. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it carries diagnostics (host probes, versions, task counts, the
tail percentile and its sample count).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run that turns on Spark's event log and UDF profiler and reports the
per-layer metrics (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

# set before numpy is first imported (see bench.py)
os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
# a 1 GB driver heap holds these inputs; larger heaps let the JVM's resident
# size wander by hundreds of MB between runs of the same code
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
MIN_OPS = 20  # at least ten samples beyond the tail percentile, and at p50+
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the self-test")
    return ap.parse_args(argv)


def tail(walls: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it."""
    s = sorted(walls)
    k = max(0, len(s) - 11)
    return s[k], 100.0 * (k + 1) / len(s)


class Runner:
    def __init__(self, args):
        from perfbench.workloads import WORKLOADS
        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(WORKLOADS)}")
        self.args = args
        # orphans of the run (the JVM's Python workers once the JVM exits)
        # become this process's children, so stop_processes can reap them
        ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
        self.cores = len(os.sched_getaffinity(0))
        self.run_dir = os.path.join(
            ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
        for sub in ("tmp", "local", "events", "profile"):
            os.makedirs(os.path.join(self.run_dir, sub), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        os.environ["PYSPARK_PYTHON"] = sys.executable
        self.cls = WORKLOADS[args.workload]
        self.failed = 0
        self.attempted = 0
        self.diag: dict = {"workload": args.workload, "seed": args.seed,
                           "nproc": self.cores, "trace": args.trace}

    # -- phases -------------------------------------------------------

    def make_inputs(self):
        t0 = time.perf_counter()
        self.w = self.cls(os.path.join(self.run_dir, "in"), self.args.seed,
                          self.args.smoke)
        self.diag["input_gen_s"] = time.perf_counter() - t0

    def start(self):
        """Set-up: imports, session, workload set-up, warm-up ops."""
        t0 = time.perf_counter()
        from proj_spark.session import get_spark
        t1 = time.perf_counter()
        conf = {"spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": os.path.join(self.run_dir, "events")})
        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        self.w.setup(self.spark)
        t3 = time.perf_counter()
        for i in range(self.w.warmup_ops):
            self.op(i, collect=i < self.w.cycle)
        t4 = time.perf_counter()
        self.setup_s = t4 - t0
        self.w.timings["session.start_s"] = t2 - t1
        self.diag["setup_parts_s"] = {"import": t1 - t0, "session": t2 - t1,
                                      "workload": t3 - t2, "warmup": t4 - t3}

    def op(self, i: int, traced: bool = False, w=None,
           collect: bool = False) -> dict:
        """Run op ``i`` of workload ``w`` (default: this run's) under its
        own job group; return its timings. Every op counts as attempted,
        warm-up ops too; one that raises counts as failed."""
        w = w or self.w
        sc = self.spark.sparkContext
        gid = f"perfbench-{w.name}-op{i}"
        sc.setJobGroup(gid, gid)
        rec = {"index": i, "group": gid, "ok": True, "plan_jobs": 0}
        if traced:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        elif self.args.trace:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        rec["traced"] = traced
        t0 = t1 = time.perf_counter()
        try:
            df = w.plan(i)
            t1 = time.perf_counter()
            rec["plan_jobs"] = len(sc.statusTracker().getJobIdsForGroup(gid))
            if traced and df is not None:
                df, rec["observation"] = observed(df)
            if collect and hasattr(w, "collect"):
                w.collect(i, df)
            else:
                w.execute(i, df)
        except Exception as e:  # a failed op is counted against attempted
            rec["ok"] = False
            rec["error"] = f"op {i}: {type(e).__name__}: {str(e)[:300]}"
        t2 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec.update(plan_s=t1 - t0, wall_s=t2 - t0)
        self.attempted += 1
        if not rec["ok"]:
            self.failed += 1
            self.diag.setdefault("errors", []).append(rec["error"])
        return rec

    def window(self, first: int, min_ops: int = MIN_OPS,
               traced=lambda i: False) -> list[dict]:
        """Ops from index ``first`` until --seconds have passed, at least
        ``min_ops`` ran, and the workload is at a cycle/job boundary.
        ``traced(i)`` says which ops run with the profiler and observe."""
        recs, i = [], first
        t0 = time.perf_counter()
        while True:
            recs.append(self.op(i, traced=traced(i)))
            elapsed = time.perf_counter() - t0
            if (elapsed >= self.args.seconds and len(recs) >= min_ops
                    and (i + 1) % self.w.cycle == 0):
                break
            i += 1
        self.window_s = time.perf_counter() - t0
        return recs

    def tasks_per_op(self, recs: list[dict]) -> list[int]:
        st = self.spark.sparkContext.statusTracker()
        out = []
        for r in recs:
            n = 0
            for jid in st.getJobIdsForGroup(r["group"]):
                job = st.getJobInfo(jid)
                for sid in (job.stageIds if job else []):
                    stage = st.getStageInfo(sid)
                    n += stage.numTasks if stage else 0
            out.append(n)
        return out

    def check(self):
        try:
            fails = self.w.check()
        except Exception as e:  # a crashed check is a failed check
            fails = [f"check raised {type(e).__name__}: {str(e)[:300]}"]
        if fails:
            self.diag["check_failures"] = fails
            self.failed = self.attempted  # every op of the run is suspect
        return not fails

    # -- the two kinds of run ---------------------------------------------

    def untraced(self) -> dict:
        from perfbench import procstat
        self.start()
        c0 = procstat.cpu_seconds()
        recs = self.window(self.w.warmup_ops)
        c1 = procstat.cpu_seconds()
        rss = procstat.peak_rss_mb()
        self.diag["tasks_per_op"] = sorted(set(self.tasks_per_op(recs)))
        walls = [r["wall_s"] for r in recs]
        rows = sum(self.w.rows(r["index"]) for r in recs)
        tail_v, tail_p = tail(walls)
        self.diag.update(ops=len(recs), window_s=self.window_s,
                         tail_percentile=tail_p, tail_samples=len(walls),
                         op_walls_s=[round(x, 3) for x in walls],
                         rss_mb=rss, timings=self.w.timings)
        return {
            "setup_s": (self.setup_s, "s"),
            "rows_per_s": (rows / self.window_s, "rows/s"),
            "latency_p50_s": (statistics.median(walls), "s"),
            "latency_tail_s": (tail_v, "s"),
            "peak_rss_mb": (sum(rss.values()), "MB"),
            "cpu_s_per_op": ((c1 - c0) / len(recs), "s"),
        }

    def traced(self) -> dict:
        from perfbench import eventlog, layers, procstat
        from perfbench.workloads import GeolocateCheckpointed, median
        self.start()
        # traced and untraced cycles alternate, so warm-up drift does not
        # read as tracing overhead
        cycle = self.w.cycle
        both = self.window(self.w.warmup_ops,
                           traced=lambda i: (i // cycle) % 2 == 1)
        recs = [r for r in both if r["traced"]]
        base = [r for r in both if not r["traced"]]
        udf_s = layers.udf_profile_seconds(
            self.spark, os.path.join(self.run_dir, "profile")) / len(recs)
        rss = procstat.peak_rss_mb()
        work = os.path.join(self.run_dir, "in")
        m = {k: 0.0 for k in layers.UNITS}
        m.update(self.w.timings)
        m.update(layers.kernels(self.args.seed, self.args.smoke))
        m.update(layers.rows(self.spark, self.w, recs))
        ckpt, ckpt_recs = self.w, recs
        if self.w.name != "transform_bulk":
            m.update(layers.pages(self.spark, self.w.tables_dir, work))
        if self.w.name == "query_mix":
            # the mix has no checkpointed sink: commit one warm and one
            # measured job over the pages table just written
            ckpt = GeolocateCheckpointed.on_pages(
                os.path.join(work, "probe"), os.path.join(work, "pages_spark"),
                self.w.counts["documents"], buckets=2)
            ckpt.setup(self.spark)
            ckpt_recs = [self.op(k, w=ckpt)
                         for k in range(2 * ckpt.buckets)][ckpt.buckets:]
        self.check_ok = self.check()
        self.spark.stop()
        groups = eventlog.by_group(os.path.join(self.run_dir, "events"))
        per_op = [groups.get(r["group"], eventlog.empty()) for r in recs]
        walls = [r["wall_s"] for r in recs]
        m.update(eventlog.summarize(per_op, walls, self.cores))
        if ckpt.name == "geolocate_checkpointed":
            m.update(layers.checkpoint(
                ckpt, ckpt_recs,
                [groups.get(r["group"], eventlog.empty()) for r in ckpt_recs]))
        if self.w.name == "query_mix":
            m["querylib.plan_s"] = median([r["plan_s"] for r in recs])
            m["querylib.plan_jobs"] = median([r["plan_jobs"] for r in recs])
        base_wall, traced_wall = median([r["wall_s"] for r in base]), median(walls)
        m.update({
            "stages.udf_s": udf_s,
            "rss.driver_mb": rss["driver"],
            "rss.jvm_mb": rss["jvm"],
            "rss.python_workers_mb": rss["python_workers"],
            "trace.op_wall_s": traced_wall,
            "trace.untraced_op_wall_s": base_wall,
            "trace.overhead_frac": traced_wall / base_wall - 1.0,
            "share.plan": median([r["plan_s"] for r in recs]) / traced_wall,
            "share.udf": udf_s / traced_wall,
            "share.jvm_wait": m["stages.jvm_wait_s"] / traced_wall,
            "share.task_cpu": m["jvm.task_cpu_s"] / traced_wall,
        })
        self.diag.update(ops=len(recs), baseline_ops=len(base))
        return {k: (float(m[k]), u) for k, u in layers.UNITS.items()}


def stop_processes(spark=None, grace_s: float = 30.0) -> None:
    """Stop Spark and end every process this run started: the JVM behind
    the py4j gateway (it otherwise lingers until it sees EOF on stdin after
    this process exits) and the Python workers it forked. Returns only when
    all of them have ended."""
    from pyspark import SparkContext
    from perfbench import procstat
    started = [p for p in procstat.tree() if p != os.getpid()]
    if spark is not None:
        with contextlib.suppress(Exception):
            spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
        with contextlib.suppress(AttributeError, OSError):
            gw.proc.stdin.close()  # the JVM exits on EOF
        SparkContext._gateway = SparkContext._jvm = None
    # workers the JVM forked are re-parented when it exits: wait on the
    # pids seen before the stop, not on the tree
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0),
                        (signal.SIGKILL, 5.0)):
        for pid in started if sig else ():
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        deadline = time.monotonic() + wait_s
        while started and time.monotonic() < deadline:
            _reap()
            started = [p for p in started if _alive(p)]
            time.sleep(0.05)
        if not started:
            return
    raise RuntimeError(f"processes did not end: {started}")


def _reap() -> None:
    """Collect every child that has exited."""
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def _alive(pid: int) -> bool:
    """True until ``pid`` has been reaped. A multithreaded process such as
    the JVM can show state Z while its other threads still run, so the
    state field does not tell; as subreaper this process reaps them all."""
    return os.path.exists(f"/proc/{pid}")


def observed(df):
    """Attach a row/NULL counter to ``df``'s output."""
    from pyspark.sql import Observation, functions as F
    obs = Observation()
    any_null = F.greatest(*[F.col(c).isNull().cast("int") for c in df.columns]) \
        if len(df.columns) > 1 else F.col(df.columns[0]).isNull().cast("int")
    return df.observe(obs, F.count(F.lit(1)).alias("rows"),
                      F.sum(any_null).alias("null_rows")), obs


def host_probe() -> dict:
    """``bench._host_probe`` in a child process, so its 300 MB of arrays
    stay out of the driver's peak RSS."""
    out = subprocess.run(
        [sys.executable, "-c",
         "import json, bench; print(json.dumps(bench._host_probe()))"],
        cwd=ROOT, stdout=subprocess.PIPE, check=True, text=True, timeout=120)
    return json.loads(out.stdout.strip().splitlines()[-1])


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__}


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still removes its directory and stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    r = Runner(args)
    try:
        r.diag["host_probe_before"] = host_probe()
        r.make_inputs()
        metrics = r.traced() if args.trace else r.untraced()
        if not args.trace:
            r.check_ok = r.check()
        stop_processes(getattr(r, "spark", None))
        r.diag["host_probe_after"] = host_probe()
        r.diag["versions"] = versions()
    finally:
        try:
            stop_processes(getattr(r, "spark", None))
        finally:
            shutil.rmtree(r.run_dir, ignore_errors=True)
            with contextlib.suppress(OSError):  # other runs may still use it
                os.rmdir(os.path.dirname(r.run_dir))
    result = {
        "correct": bool(r.check_ok and r.failed == 0),
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps({"diagnostics": r.diag}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
