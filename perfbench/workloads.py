"""The benchmark's three workloads.

Each workload makes its inputs from the seed, sets itself up on a Spark
session, and then runs ops one at a time. An op is split into ``plan(i)``,
which builds the DataFrame on the driver (it may return None), and
``execute(i, df)``, which forces it. ``cycle`` is the number of ops in one
query cycle or checkpointed job; a timed window closes only after a whole
cycle.

``check()`` verifies the program's outputs outside the timed window and
returns a list of failures. The noop-sink workloads check the outputs of
their warm-up ops, which ``collect(i, df)`` instead of ``execute``, so the
check costs no extra pass.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import statistics
import time

import numpy as np

from perfbench import inputs

WEBMERC = "+proj=webmerc +ellps=WGS84"
AEQD = "+proj=aeqd +lat_0=52 +lon_0=10 +ellps=WGS84"
GIE_TOL_M = 5e-4  # gie's default tolerance, 0.5 mm

# JVM-only queries: regex extraction over the cached pages view with a tile
# aggregation, a shuffled spatial join, and an md5 hash group-by; each has a
# DuckDB oracle in querylib.ORACLES. Python crossings are transform_bulk's.
# Heavier queries (pip_pairs, knn_top5, minhash_lsh_pairs, dedup_components)
# take 1-6 s an op plus 3-8 s of first-use warm-up, which the benchmark's
# time budget cannot hold with enough samples per run.
QUERY_MIX = ["dedup_exact", "extract_tile_counts", "within_radius_shuffled"]
# the table whose rows drive each query (rows_per_s counts these)
DRIVING_TABLE = {"extract_tile_counts": "documents",
                 "within_radius_shuffled": "lineitem",
                 "dedup_exact": "documents"}


class FreshStateError(AssertionError):
    """A checkpointed job did not start from an empty output directory, so
    it would skip committed buckets and read as a false speed-up."""


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class TransformBulk:
    """Seeded points through two ``stages.apply_transform`` crossings."""

    name = "transform_bulk"
    # ops still get faster for ~10 ops after the first (JIT, worker pool);
    # warming past most of that keeps the window's median off the slope
    warmup_ops = 6
    cycle = 1  # ops per query cycle or checkpointed job

    def __init__(self, work_dir: str, seed: int, smoke: bool):
        self.dir = os.path.join(work_dir, "points")
        self.n = 4_000 if smoke else 100_000
        self.pts = inputs.points(self.dir, seed, self.n)
        self.timings: dict = {}

    def setup(self, spark) -> None:
        from proj_spark import crs
        t0 = time.perf_counter()
        self.ops = [crs.create(WEBMERC), crs.create(AEQD)]
        self.timings["crs.create_s"] = time.perf_counter() - t0
        self.points_df = spark.read.parquet(self.dir)

    def rows(self, i: int) -> int:
        return self.n

    def plan(self, i: int):
        from proj_spark.stages import apply_transform
        df = apply_transform(self.points_df, self.ops[0], "lon", "lat", "h",
                             out_prefix="w")
        df = apply_transform(df, self.ops[1], "lon", "lat", "h",
                             out_prefix="a")
        return df.select("pid", "wx", "wy", "ax", "ay")

    def execute(self, i: int, df) -> None:
        noop_sink(df)

    def collect(self, i: int, df) -> None:
        self.output = df.toPandas()

    def check(self) -> list[str]:
        from proj_spark.kernels.core import DEG_TO_RAD
        got = self.output.sort_values("pid")
        lam = self.pts["lon"] * DEG_TO_RAD
        phi = self.pts["lat"] * DEG_TO_RAD
        t = np.full(self.n, np.nan)
        fails = []
        if len(got) != self.n:
            return [f"transform_bulk: {len(got)} rows out of {self.n}"]
        for op, px in zip(self.ops, ("w", "a")):
            ex, ey, _, _ = op.apply("forward", lam, phi, self.pts["h"], t)
            gx = got[px + "x"].to_numpy(np.float64, na_value=np.nan)
            gy = got[px + "y"].to_numpy(np.float64, na_value=np.nan)
            e_null, g_null = np.isnan(ex) | np.isnan(ey), np.isnan(gx) | np.isnan(gy)
            if e_null.sum() != g_null.sum() or (e_null != g_null).any():
                fails.append(f"transform_bulk/{px}: NULL rows {g_null.sum()} "
                             f"vs {e_null.sum()} from Operator.apply")
                continue
            ok = ~e_null
            err = np.hypot(gx[ok] - ex[ok], gy[ok] - ey[ok])
            if err.size and err.max() > GIE_TOL_M:
                fails.append(f"transform_bulk/{px}: max error {err.max():.3g} m")
        return fails


class QueryMix:
    """Registered ``querylib.QUERIES`` entries, cycled in a fixed order over
    the seeded tables."""

    name = "query_mix"

    def __init__(self, work_dir: str, seed: int, smoke: bool):
        self.dir = self.tables_dir = os.path.join(work_dir, "tables")
        self.counts = inputs.tables(self.dir, seed,
                                    n_orders=300 if smoke else 15_000)
        # a fixed cycle; the seed varies only the data. Reordering the cycle
        # moved every query's wall by ~20% (one cyclic order of the three is
        # steadily slower), so runs of different seeds were not comparable.
        self.cycle = len(QUERY_MIX)
        # cycle walls fall by ~45% over the first ~30 cycles (1.5 s to
        # ~0.8 s on 4 shared vCPUs) and then flatten: a window on that slope
        # reads how far a run got down it, not the code
        self.warmup_ops = (2 if smoke else 30) * self.cycle
        self.outputs: dict = {}  # query -> its warm-up output
        self.timings: dict = {}

    def setup(self, spark) -> None:
        t0 = time.perf_counter()
        from proj_spark import querylib
        self.timings["import.querylib_s"] = time.perf_counter() - t0
        missing = [q for q in QUERY_MIX if q not in querylib.QUERIES
                   or q not in querylib.ORACLES]
        if missing:
            raise SystemExit(f"query_mix: not registered or no oracle: "
                             f"{missing}; the mix is not shrunk")
        self.querylib = querylib
        querylib.register_views(spark, self.dir)
        self.spark = spark

    def query(self, i: int) -> str:
        return QUERY_MIX[i % self.cycle]

    def rows(self, i: int) -> int:
        return self.counts[DRIVING_TABLE[self.query(i)]]

    def plan(self, i: int):
        return self.querylib.QUERIES[self.query(i)](self.spark, self.dir)

    def execute(self, i: int, df) -> None:
        noop_sink(df)

    def collect(self, i: int, df) -> None:
        self.outputs[self.query(i)] = df.toPandas()

    def check(self) -> list[str]:
        import duckdb
        import pandas as pd
        from tools.check_oracle import normalize

        con = duckdb.connect()
        fails = []
        try:
            for t in self.querylib.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.dir}/{t}.parquet')")
            for name in QUERY_MIX:
                got = normalize(self.outputs[name])
                want = normalize(con.sql(self.querylib.ORACLES[name]).df())
                if len(want) == 0:
                    fails.append(f"query_mix/{name}: oracle returned no rows")
                    continue
                try:
                    pd.testing.assert_frame_equal(
                        got, want, check_dtype=False, check_exact=False,
                        rtol=0, atol=1e-9)
                except AssertionError as e:
                    fails.append(f"query_mix/{name}: "
                                 + str(e).splitlines()[0][:200])
        finally:
            con.close()
        return fails


class GeolocateCheckpointed:
    """``jobs/geolocate.main`` one bucket commit at a time, each job in a
    fresh output directory."""

    name = "geolocate_checkpointed"

    def __init__(self, work_dir: str, seed: int, smoke: bool):
        tables_dir = os.path.join(work_dir, "tables")
        inputs.tables(tables_dir, seed, n_orders=300,
                      n_docs=2_000 if smoke else 40_000)
        pages = os.path.join(work_dir, "pages.parquet")
        self.init(work_dir, tables_dir, pages, inputs.pages(pages, tables_dir),
                  buckets=2 if smoke else 4)

    @classmethod
    def on_pages(cls, work_dir: str, pages: str, n_pages: int, buckets: int):
        """A checkpointed job over an existing pages table."""
        w = cls.__new__(cls)
        w.init(work_dir, None, pages, n_pages, buckets)
        return w

    def init(self, work_dir, tables_dir, pages, n_pages, buckets) -> None:
        self.work_dir, self.tables_dir = work_dir, tables_dir
        self.pages, self.n_pages, self.buckets = pages, n_pages, buckets
        self.warmup_ops = self.cycle = buckets  # one whole job
        self.manifests: dict[int, dict] = {}  # job number -> its manifest
        self.timings: dict = {}

    def setup(self, spark) -> None:
        from jobs import geolocate
        self.geolocate = geolocate
        self.spark = spark

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work_dir, "geo_out", f"job{i // self.buckets}")

    def rows(self, i: int) -> int:
        return self.n_pages // self.buckets

    def plan(self, i: int):
        if i % self.buckets == 0:
            fresh_out_dir(self.out_dir(i))
        return None

    def execute(self, i: int, df) -> None:
        run_bucket(self.geolocate, self.pages, self.out_dir(i), self.buckets)
        if (i + 1) % self.cycle == 0:
            self.manifests[i // self.buckets] = read_manifest(self.out_dir(i))

    def check(self) -> list[str]:
        fails = []
        for j, m in self.manifests.items():
            if len(m["buckets"]) != self.buckets:
                fails.append(f"geolocate job {j}: {len(m['buckets'])} of "
                             f"{self.buckets} buckets committed")
        prints = {fingerprint(m) for m in self.manifests.values()}
        if len(prints) != 1:
            fails.append(f"geolocate: manifests differ across jobs: {prints}")
        elif next(iter(prints))[0] == 0:
            fails.append("geolocate: jobs committed no rows")
        return fails


def fresh_out_dir(path: str) -> None:
    """Fresh-state guard: a job must start in a directory that does not
    exist yet."""
    if os.path.exists(path):
        raise FreshStateError(f"output directory {path} already exists")


def run_bucket(geolocate, pages: str, out: str, buckets: int) -> None:
    """One ``--max-buckets 1`` invocation; it must commit exactly one new
    bucket."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        geolocate.main(["--pages", pages, "--out", out,
                        "--buckets", str(buckets), "--max-buckets", "1"])
    m = re.search(r"processed (\d+) buckets", buf.getvalue())
    if m is None or int(m.group(1)) != 1:
        raise FreshStateError(f"{out}: expected one new bucket, job said "
                              f"{buf.getvalue().strip()!r}")


def read_manifest(out: str) -> dict:
    with open(os.path.join(out, "_manifest.json")) as f:
        return json.load(f)


def fingerprint(manifest: dict) -> tuple[int, int]:
    """(row total, xor of bucket hashes) of a job's manifest."""
    rows, xh = 0, 0
    for b in manifest["buckets"].values():
        rows += b["output_rows"]
        xh ^= b["output_xor_hash"]
    return rows, xh


WORKLOADS = {w.name: w for w in (TransformBulk, QueryMix,
                                 GeolocateCheckpointed)}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0
