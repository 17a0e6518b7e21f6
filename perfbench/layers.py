"""Per-layer measurements for the traced run that do not come from the
event log: the UDF profiler, single-core kernels, the pages fixture, the
checkpoint manifest and the row counters."""

from __future__ import annotations

import os
import pstats
import time

import numpy as np

from perfbench.eventlog import MB
from perfbench.workloads import AEQD, WEBMERC, median

# every per-layer metric and its unit; a traced run reports all of them on
# every workload, 0 where the workload does not use the layer
UNITS = {
    "session.start_s": "s", "import.querylib_s": "s", "querylib.plan_s": "s",
    "querylib.plan_jobs": "count", "crs.create_s": "s",
    "kernels.webmerc_mpts_s": "Mpts/s", "kernels.aeqd_mpts_s": "Mpts/s",
    "kernels.s2_mpts_s": "Mpts/s", "stages.udf_s": "s",
    "stages.jvm_wait_s": "s", "jvm.stages": "count", "jvm.tasks": "count",
    "jvm.task_cpu_s": "s", "jvm.gc_s": "s", "scan.rows_read": "count",
    "scan.mb_read": "MB", "jvm.core_idle_frac": "fraction",
    "jvm.tasks_failed": "count", "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "shuffle.task_skew": "ratio", "sink.rows_written": "count",
    "sink.mb_written": "MB", "checkpoint.bucket_wall_s": "s",
    "checkpoint.rows_read_per_row_committed": "ratio",
    "pagesgen.materialize_s": "s", "pagesgen.pages_cache_s": "s",
    "rows.in": "count", "rows.out": "count", "rows.null_out": "count",
    "rss.driver_mb": "MB", "rss.jvm_mb": "MB", "rss.python_workers_mb": "MB",
    "trace.op_wall_s": "s", "trace.untraced_op_wall_s": "s",
    "trace.overhead_frac": "fraction", "share.plan": "fraction",
    "share.udf": "fraction", "share.jvm_wait": "fraction",
    "share.task_cpu": "fraction",
}


def udf_profile_seconds(spark, dump_dir: str) -> float:
    """Total seconds inside Python UDFs, summed over every profiled UDF."""
    spark.profile.dump(dump_dir)
    total = 0.0
    for name in os.listdir(dump_dir):
        total += pstats.Stats(os.path.join(dump_dir, name)).total_tt
    spark.profile.clear()
    return total


def _mpts(fn, n: int) -> float:
    fn()  # untimed warm pass
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return n / median(walls) / 1e6


def kernels(seed: int, smoke: bool) -> dict:
    """Single-core throughput of the kernels the workloads cross into,
    outside Spark, on seeded points."""
    from proj_spark import crs
    from proj_spark.kernels import s2cell
    from proj_spark.kernels.core import DEG_TO_RAD

    n = 4_000 if smoke else 200_000
    rng = np.random.default_rng([seed, 4])
    lon, lat = rng.uniform(-180, 180, n), rng.uniform(-85, 85, n)
    lam, phi = lon * DEG_TO_RAD, lat * DEG_TO_RAD
    z, t = np.zeros(n), np.full(n, np.nan)
    out = {}
    for key, defn in (("webmerc", WEBMERC), ("aeqd", AEQD)):
        op = crs.create(defn)
        out[f"kernels.{key}_mpts_s"] = _mpts(
            lambda op=op: op.apply("forward", lam, phi, z, t), n)
    out["kernels.s2_mpts_s"] = _mpts(
        lambda: s2cell.lonlat_to_cell(lon, lat, 12), n)
    return out


def pages(spark, tables_dir: str, work_dir: str) -> dict:
    """Seconds to write the pages fixture with ``materialize_pages`` (to
    ``work_dir/pages_spark``) and to build a fresh cached pages view with
    ``ensure_pages_view``."""
    from proj_spark import pagesgen
    t0 = time.perf_counter()
    pagesgen.materialize_pages(spark, tables_dir,
                               os.path.join(work_dir, "pages_spark"))
    t1 = time.perf_counter()
    # a path alias of the same tables is a new cache key, so the cache is
    # built from scratch
    pagesgen.ensure_pages_view(spark, os.path.join(tables_dir, "."))
    spark.table(pagesgen.PAGES_VIEW).count()
    t2 = time.perf_counter()
    return {"pagesgen.materialize_s": t1 - t0, "pagesgen.pages_cache_s": t2 - t1}


def rows(spark, w, recs: list[dict]) -> dict:
    """Rows into and out of each op, and output rows with a NULL. The
    checkpointed job's come from its manifest and a read-back of each
    committed bucket; the others' from an ``observe`` on the op output."""
    if w.name != "geolocate_checkpointed":
        obs = [r["observation"].get for r in recs if "observation" in r]
        return {"rows.in": median([w.rows(r["index"]) for r in recs]),
                "rows.out": median([o["rows"] for o in obs]),
                "rows.null_out": median([o["null_rows"] or 0 for o in obs])}
    from pyspark.sql import functions as F
    ins, outs, nulls = [], [], []
    for r in recs:
        b = r["index"] % w.buckets
        m = w.manifests[r["index"] // w.buckets]["buckets"][str(b)]
        ins.append(m["input_rows"])
        outs.append(m["output_rows"])
        df = spark.read.parquet(os.path.join(w.out_dir(r["index"]), f"bucket={b}"))
        nulls.append(df.filter(F.col("s2_cell").isNull() | F.col("lat").isNull()
                               | F.col("lon").isNull()).count())
    return {"rows.in": median(ins), "rows.out": median(outs),
            "rows.null_out": median(nulls)}


def checkpoint(w, recs: list[dict], groups: list[dict]) -> dict:
    """Bucket walls from the job's manifest, rows scanned per row committed,
    and what the parquet sink wrote per bucket."""
    jobs = [w.manifests[j] for j in sorted({r["index"] // w.buckets for r in recs})
            if j in w.manifests]
    committed = sum(b["output_rows"] for m in jobs for b in m["buckets"].values())
    rows_read = sum(g["rows_read"] for g in groups)
    return {
        "checkpoint.bucket_wall_s": median(
            [b["wall_s"] for m in jobs for b in m["buckets"].values()]),
        "checkpoint.rows_read_per_row_committed":
            rows_read / committed if committed else 0.0,
        "sink.rows_written": median([g["rows_written"] for g in groups]),
        "sink.mb_written": median([g["bytes_written"] / MB for g in groups]),
    }
