"""One benchmark run, in the child process that ``run.py`` starts.

``setup_s`` is the cold set-up: from process start through JVM launch and
``get_spark``, the inputs, and one untimed first call of every op shape.
Then one closed-loop client runs whole cycles of ops for at least
``--seconds``, the outputs are checked against independent references, and
the result is written as JSON for ``run.py``.

With ``--trace 1`` the session also writes an uncompressed event log, and
spans placed around each call into a layer are kept.  Each op of the loop
runs twice back to back, once with spans and the PySpark UDF profiler on and
once with both off, the order alternating from op to op; the ratio of the
two gives the tracing overhead.  The event log stays on for both, so its
cost is not in that ratio.  Each layer is then probed on its own.
End-to-end numbers are only reported from untraced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from perfbench import checks  # noqa: E402
from perfbench import eventlog  # noqa: E402
from perfbench.procmem import PeakRss  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from polycheck_spark.data import synth  # noqa: E402
from polycheck_spark.data.polygons import synthetic_layer  # noqa: E402
from polycheck_spark.geo.kernel import contains_csr, pack_polygons_csr  # noqa: E402
from polycheck_spark.operators import pip_join as PJ  # noqa: E402

CPUS = len(os.sched_getaffinity(0))  # what `nproc` reports
# a compile failure line in the shape the JVM logs it (for --plant codegen)
PLANTED_CODEGEN_LINE = ("ERROR CodeGenerator: Failed to compile the generated "
                        "Java code. (planted by perfbench --plant codegen)")


PROFILER_CONF = "spark.sql.pyspark.udf.profiler"


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten samples
    beyond it.  Below 100 samples that percentile is under p90, which is no
    tail, so the tail is then the maximum (percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    if n < 100:
        return 100.0, xs[-1]
    return 100.0 * (n - 10) / n, xs[n - 11]


class Run:
    def __init__(self, args):
        self.args = args
        self.seed = args.seed % 2**63  # numpy seeds must be non-negative
        self.rng = np.random.default_rng(self.seed)
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.trace)
        self.run_dir = os.getcwd()
        self.spark = None
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.n_op = 0
        self.profile = False
        self.last_op: dict = {}

    # -- session ---------------------------------------------------------------

    def start_session(self):
        from polycheck_spark.session import get_spark
        extra = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            # keep JVM temp files in the run dir; no /tmp/hsperfdata file
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            log_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                PROFILER_CONF: "perf",
            })
        self.spark = get_spark("perfbench", master=f"local[{CPUS}]",
                               shuffle_partitions=CPUS, **extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.profile = self.trace

    def set_tracing(self, on: bool):
        """Spans and the UDF profiler on or off."""
        self.tracer.enabled = self.profile = on
        if on:
            self.spark.conf.set(PROFILER_CONF, "perf")
        else:
            self.spark.conf.unset(PROFILER_CONF)

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- ops -------------------------------------------------------------------

    def op(self, kind: str, fn, *, keep: bool = True, expect: str | None = None):
        """Run one op under its own job group.  Returns (result, seconds, ok).
        ``keep``: add it to the ops the per-op accounting covers.
        ``expect``: the op must raise an error containing this text."""
        self.n_op += 1
        op_id = f"{kind}#{self.n_op}"
        self.spark.sparkContext.setJobGroup(op_id, kind)
        self.tracer.op_id = op_id
        self.attempted += 1
        result, ok = None, True
        if self.profile:
            self.spark.profile.clear()
        t0 = time.time()
        try:
            with self.tracer.span("op", kind):
                result = fn()
            if expect is not None:
                ok = False
                self.errors.append(f"{op_id}: expected an error containing {expect!r}")
        except Exception as ex:  # noqa: BLE001 - every failure is counted
            if expect is None or expect not in str(ex):
                ok = False
                self.errors.append(f"{op_id}: {type(ex).__name__}: {str(ex)[:300]}")
        t1 = time.time()
        if not ok:
            self.failed += 1
        self.tracer.op_id = None
        rec = {"op_id": op_id, "kind": kind, "t0": t0, "t1": t1, "ok": ok}
        if self.profile:
            rec["udf_s"] = pip_udf_seconds(self.spark)
        if keep:
            self.ops.append(rec)
        self.last_op = rec
        return result, t1 - t0, ok

    def check(self, name: str, mismatches: list[str]):
        self.attempted += 1
        if mismatches:
            self.failed += 1
            self.errors.extend(f"check {name}: {m}" for m in mismatches)

    def timed(self, layer: str, name: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(layer, name):
            out = fn()
        return out, time.perf_counter() - t0


def pip_udf_seconds(spark) -> float:
    """Seconds inside pip_join's winding UDF since the last profile clear."""
    total = 0.0
    for stats in spark._profiler_collector._perf_profile_results.values():
        for (path, _line, fn), (_cc, _nc, _tt, ct, _callers) in stats.stats.items():
            # worker-side stats key code by file basename
            if fn == "pip" and os.path.basename(path) == "pip_join.py":
                total += ct
    return total


# -- workloads ----------------------------------------------------------------

class PipDense:
    """Repeated ``pip_join(spark, pages, layer).count()`` over synthetic
    geocoded pages against a dense seeded layer (64 polygons, 256-1024
    vertices each)."""

    PAGES = 500_000
    WARM_PAGES = 10_000
    SAMPLE_MOD = 2000  # ~1 page in 2000 goes to the DuckDB comparison

    def __init__(self, run: Run):
        self.run = run
        self.layer = synthetic_layer(num_polygons=64, min_vertices=256,
                                     max_vertices=1024, base_radius=20,
                                     seed=run.seed)
        self.hits: list[int] = []

    def pages(self, n: int):
        tr = self.run.tracer
        with tr.span("data.synth", "generate_pages"):
            pages = synth.generate_pages(self.run.spark, n).select("url")
        with tr.span("data.synth", "geocode_url_cols"):
            lon, lat = synth.geocode_url_cols(F.col("url"))
        return pages.withColumn("lon", lon).withColumn("lat", lat)

    def _pass(self, pts) -> int:
        with self.run.tracer.span("operators.pip_join", "pip_join"):
            df = PJ.pip_join(self.run.spark, pts, self.layer)
        with self.run.tracer.span("spark", "count"):
            return df.count()

    def inputs(self):
        self.pts = self.pages(self.PAGES)

    def warm(self):
        small = self.pages(self.WARM_PAGES)
        self.run.op("warm:pip_pass", lambda: self._pass(small), keep=False)

    def cycle(self):
        return [("pip_pass", lambda: self._pass(self.pts))]

    def record(self, kind: str, n: int):
        self.hits.append(n)

    def metrics(self, walls: list[float], wall: float) -> dict:
        m = loop_metrics(walls, wall)
        m["docs_per_s"] = m["pip_docs_per_s"] = self.PAGES / m["op_p50_s"]
        return m

    def verify(self):
        run = self.run
        run.check("pip_dense hit counts", checks.equal_counts(self.hits))
        sample = self.pts.filter(
            F.pmod(F.xxhash64(F.col("url"), F.lit(run.seed)), F.lit(self.SAMPLE_MOD)) == 0)
        pts = sample.toPandas()
        got = [tuple(r) for r in PJ.pip_join(run.spark, sample, self.layer)
               .select("url", "polygon_id").collect()]
        if run.args.plant == "wrong" and got:
            got = got[1:]
        exp = duckdb_winding(pts, self.layer, "url")
        run.check("pip_dense sample vs DuckDB winding",
                  checks.multiset(["url", "polygon_id"], got, ["url", "polygon_id"], exp))
        run.check("star8 grid vs reference winding", checks.star8_grid())

    def probe(self) -> dict:
        out = probe_pip_layers(self.run, self.pts, self.layer, self.PAGES,
                               hits=self.hits[-1] if self.hits else None)
        out["_job"] = job_probe(self.run)
        return out


class Sf01Queries:
    """A seeded order of ``__spark_entry__.queries()`` rows over seeded
    ``documents``/``embeddings`` tables, each built and then counted.  The
    untimed first call of each query collects its rows instead, and those
    rows are checked against the query's DuckDB oracle after set-up."""

    # the sizes of the repository's sf0.01 tables: per-query cost is nearly
    # the same at the 5,000 docs of sf0.1, whose DuckDB oracles take 15 s
    N_DOCS = 500
    N_VECS = 500
    # one row or more per operator layer: pip_join (with geo.cells),
    # visibility, knn, range_join, similarity, and dedup with text tokens.
    # An even count makes the median the mean of two queries' latencies.
    QUERIES = ["pip_join", "raster_lookup", "knn", "hotspot_regions",
               "range_join", "near_dup", "dedup_survivors",
               "dedup_verified_clusters"]

    def __init__(self, run: Run):
        import __spark_entry__ as E
        self.run = run
        self.E = E
        self.fns = E.queries()
        self.sf_dir = os.path.join(run.run_dir, "sf")
        self.counts: dict[str, list[int]] = {q: [] for q in self.QUERIES}
        self.warm_rows: dict[str, tuple] = {}

    def inputs(self):
        from perfbench.sfdata import write_tables
        with self.run.tracer.span("data.sfdata", "write_tables"):
            write_tables(self.sf_dir, self.run.seed, self.N_DOCS, self.N_VECS)

    def _query(self, name: str, action: str = "count"):
        with self.run.tracer.span("operators", name):
            df = self.fns[name](self.run.spark, self.sf_dir)
        with self.run.tracer.span("spark", action):
            if action == "count":
                return df.count()
            return df.columns, [tuple(r) for r in df.collect()]

    def warm(self):
        for q in self.QUERIES:
            rows, _, ok = self.run.op(f"warm:{q}", lambda q=q: self._query(q, "collect"),
                                      keep=False)
            if ok:
                self.warm_rows[q] = rows

    def cycle(self):
        return [(f"q:{q}", lambda q=q: self._query(q))
                for q in self.run.rng.permutation(self.QUERIES)]

    def record(self, kind: str, n: int):
        self.counts[kind[2:]].append(n)

    def metrics(self, walls: list[float], wall: float) -> dict:
        m = loop_metrics(walls, wall)
        m["docs_per_s"] = len(walls) * self.N_DOCS / wall
        m.update(queries_per_s=m["ops_per_s"], query_p50_s=m["op_p50_s"],
                 query_tail_s=m["op_tail_s"])
        return m

    def verify(self):
        import duckdb
        run = self.run
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        oracles = self.E.oracle_sql()
        for i, q in enumerate(self.QUERIES):
            res = con.execute(oracles[q])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            cols, rows = self.warm_rows.get(q, ([], []))
            if run.args.plant == "wrong" and i == 0 and rows:
                rows = rows[1:]
            run.check(f"{q} vs oracle_sql", checks.multiset(cols, rows, ocols, orows))
            run.check(f"{q} timed counts vs oracle_sql",
                      checks.equal_counts(self.counts[q] + [len(orows)]))
        con.close()

    def probe(self) -> dict:
        E, run = self.E, self.run
        pts = E._docs_points(run.spark, self.sf_dir)
        return probe_pip_layers(run, pts, E._LAYER, self.N_DOCS, key_col="doc_id")


JOB_PAGES = 100_000
JOB_BUCKETS = 8


def loop_metrics(walls: list[float], wall: float) -> dict:
    p50 = statistics.median(walls)
    pct, tail = tail_percentile(walls)
    return {"ops_per_s": len(walls) / wall, "op_p50_s": p50, "op_tail_s": tail,
            "_tail_pct": pct, "_n": len(walls)}


def closed_loop(run: Run, wl, seconds: float, paired: bool = False):
    """Whole cycles of the workload's ops, one at a time, until ``seconds``
    have passed.  Returns ({traced: walls of its ok ops}, loop wall time).

    ``paired`` (traced runs): each op runs twice back to back, traced and
    untraced, the traced one first on every other op; only the traced ops
    enter the per-op accounting."""
    walls: dict[bool, list[float]] = {True: [], False: []}
    t_start, k = time.time(), 0
    while time.time() - t_start < seconds:
        for kind, fn in wl.cycle():
            modes = ((True, False) if k % 2 == 0 else (False, True)) if paired \
                else (run.trace,)
            k += 1
            for traced in modes:
                if paired:
                    run.set_tracing(traced)
                n, dt, ok = run.op(kind, fn, keep=traced)
                if ok:
                    walls[traced].append(dt)
                    wl.record(kind, n)
    if paired:
        run.set_tracing(True)
    return walls, time.time() - t_start


def job_probe(run: Run) -> dict:
    """The same pip_join through ``io.tables``: ``pip_join_job.run_job``
    fresh, then in a new out dir a run that fails before a seeded bucket
    commits, then its resume.  Checks the snapshots and that the resumed
    output equals the fresh one; returns the job's layer metrics."""
    from polycheck_spark.io.tables import CheckpointedWriter
    from polycheck_spark.jobs import pip_join_job
    fail_bucket = int(run.rng.integers(0, JOB_BUCKETS))
    fresh_dir, res_dir = (os.path.join(run.run_dir, "jobs", d) for d in ("fresh", "resume"))

    def job(out_dir, fail_on=None):
        with run.tracer.span("jobs", "run_job"):
            return pip_join_job.run_job(run.spark, JOB_PAGES, JOB_BUCKETS, out_dir,
                                        fail_on=fail_on)

    fresh, fresh_s, ok1 = run.op("job_fresh", lambda: job(fresh_dir), keep=False)
    fresh_op = run.last_op
    run.op("job_failed", lambda: job(res_dir, lambda k: k == fail_bucket),
           keep=False, expect="injected failure")
    uncommitted = JOB_BUCKETS - len(CheckpointedWriter(res_dir).completed_buckets())
    resumed, resume_s, ok2 = run.op("job_resume", lambda: job(res_dir), keep=False)
    if not (ok1 and ok2):
        return {}
    cols = ["url", "polygon_id", "cell_id", "lon", "lat", "text_sha"]
    rows = {}
    for key, d, res in (("fresh", fresh_dir, fresh), ("resumed", res_dir, resumed)):
        w = CheckpointedWriter(d)
        with run.tracer.span("io.tables", "validate_snapshot"):
            bad = w.validate_snapshot(res["snapshot"]["snapshot_id"])
        run.check(f"job {key} snapshot", checks.snapshot_valid(bad))
        with run.tracer.span("io.tables", "read_output"):
            rows[key] = [tuple(r) for r in w.read_output(run.spark).select(*cols).collect()]
    run.check("job resumed rows vs fresh rows", checks.same_rows(rows["fresh"], rows["resumed"]))
    run.check("job text_sha per url", checks.text_sha_per_url(
        [(r[0], r[5]) for r in rows["fresh"]], [(r[0], r[5]) for r in rows["resumed"]]))
    with run.tracer.span("io.tables", "lineage"):
        lineage = CheckpointedWriter(fresh_dir).lineage()

    def du(path):
        return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
    committed = sum(du(os.path.join(fresh_dir, b)) for b in os.listdir(fresh_dir)
                    if b.startswith("bucket="))
    return {
        "job_docs_per_s": JOB_PAGES / fresh_s,
        "resume_s": resume_s,
        "tables.stage_s": min(r["t_start"] for r in lineage) - fresh_op["t0"],
        "tables.bucket_p50_s": statistics.median(r["latency_sec"] for r in lineage),
        "tables.write_amp": du(fresh_dir) / committed,
        "jobs.resume_rework": len(resumed["run"]["processed"]) / uncommitted,
        "jobs.fail_bucket": fail_bucket,
        "_ops": {"job_fresh": fresh_op, "job_resume": run.last_op},
    }


WORKLOADS = {"pip_dense": PipDense, "sf01_queries": Sf01Queries}


# -- references and layer probes ------------------------------------------------

def duckdb_winding(pts, layer, key: str) -> list[tuple]:
    """(key, polygon_id) rows of the DuckDB float32 winding twin."""
    import duckdb
    from polycheck_spark.data.polygons import winding_join_sql
    con = duckdb.connect()
    con.register("sample_pts", pts)
    rows = con.execute(winding_join_sql(f"SELECT {key}, lon, lat FROM sample_pts",
                                        layer, point_id=key)).fetchall()
    con.close()
    return rows


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _bbox_rows(layer):
    return [(p["polygon_id"],
             min(float(np.float32(x)) for x, _ in p["vertices"]),
             min(float(np.float32(y)) for _, y in p["vertices"]),
             max(float(np.float32(x)) for x, _ in p["vertices"]),
             max(float(np.float32(y)) for _, y in p["vertices"])) for p in layer]


def probe_pip_layers(run: Run, pts, layer, n_rows: int, *, key_col: str = "url",
                     hits: int | None = None) -> dict:
    """Per-layer probes of the points -> cells -> pip path, each on its own."""
    spark = run.spark
    out: dict = {}
    spark.sparkContext.setJobGroup("probe", "probe")
    # noop sinks compute every column with no aggregate on top: a count over
    # a filter on assign_tiles' cell_id exceeds the 64 KB codegen method
    # limit and falls back to interpreted execution
    _, out["synth.geocode_pass_s"] = run.timed(
        "data.synth", "geocode_pass", lambda: noop(pts.select("lon", "lat")))
    res = PJ.choose_cover_res(layer)
    cover = PJ.polygon_cover_rows(layer, res)
    out["cells.cover_cells"] = len(cover)
    tiles = PJ.assign_tiles(pts, res=res)
    _, out["cells.tile_pass_s"] = run.timed(
        "geo.cells", "assign_tiles", lambda: noop(tiles.select("cell_id")))
    cover_df = spark.createDataFrame(cover, "cell_id long, polygon_id long")
    bbox_df = spark.createDataFrame(_bbox_rows(layer), "polygon_id long, xmin double, "
                                    "ymin double, xmax double, ymax double")
    cand = tiles.join(F.broadcast(cover_df), "cell_id")
    bbox = cand.join(F.broadcast(bbox_df), "polygon_id").filter(
        (F.col("lon") >= F.col("xmin")) & (F.col("lon") <= F.col("xmax"))
        & (F.col("lat") >= F.col("ymin")) & (F.col("lat") <= F.col("ymax")))
    out["pip_join.cell_candidates"] = cand.count()
    out["pip_join.bbox_candidates"] = bbox.count()
    if hits is None:
        hits = PJ.pip_join(spark, pts, layer, key_col=key_col).count()
    out["pip_join.hits"] = hits
    out["pip_join.hit_ratio"] = hits / max(1, out["pip_join.cell_candidates"])
    builds = []
    for _ in range(5):
        _, dt = run.timed("operators.pip_join", "pip_join",
                          lambda: PJ.pip_join(spark, pts, layer, key_col=key_col))
        builds.append(dt)
    out["pip_join.build_s"] = statistics.median(builds)
    # single-core kernel on a seeded sample of bbox candidates
    mod = max(1, n_rows // 20_000)
    sample = (bbox.filter(F.pmod(F.xxhash64(F.col(key_col).cast("string"), F.lit(run.seed)),
                                 F.lit(mod)) == 0)
              .select("lon", "lat", "polygon_id").toPandas())
    verts, offsets = run.timed("geo.kernel", "pack_polygons_csr",
                               lambda: pack_polygons_csr([p["vertices"] for p in layer]))[0]
    lut = {p["polygon_id"]: i for i, p in enumerate(layer)}
    idx = np.array([lut[int(p)] for p in sample["polygon_id"]], dtype=np.int64)
    xy = np.column_stack([sample["lon"].to_numpy(np.float64), sample["lat"].to_numpy(np.float64)])
    nverts = np.diff(offsets)
    reps = []
    for _ in range(3):
        _, dt = run.timed("geo.kernel", "contains_csr",
                          lambda: contains_csr(verts, offsets, idx, xy))
        reps.append(dt)
    out["kernel.csr_pts_per_s"] = len(idx) / statistics.median(reps) if len(idx) else 0.0
    out["kernel.edge_tests"] = int(nverts[idx].sum())
    return out


# -- the run ---------------------------------------------------------------------

SPARK_OP_METRICS = ["jobs", "stages", "tasks", "driver_gap_s", "shuffle_write_bytes",
                    "shuffle_read_bytes", "task_skew", "result_bytes",
                    "executor_run_s", "executor_cpu_s", "gc_s"]


def spark_op_stats(ops: list[dict], stats: dict[str, dict]) -> dict[str, dict]:
    """Event-log accounting of each op (by its job group), with its wall
    time and the seconds its pip UDF ran."""
    per_op = {}
    for o in ops:
        g = stats.get(o["op_id"], {})
        rec = {k: g.get(k, 0) for k in SPARK_OP_METRICS}
        rec["task_skew"] = g.get("task_skew", 1.0)
        rec["driver_gap_s"] = eventlog.driver_gap_s(o["t0"], o["t1"], g.get("job_intervals_ms", []))
        rec["kind"], rec["wall"], rec["udf_s"] = o["kind"], o["t1"] - o["t0"], o.get("udf_s", 0.0)
        per_op[o["op_id"]] = rec
    return per_op


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--plant", default=None)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args()
    t_process = float(os.environ.get("PERFBENCH_T0", time.time()))

    run = Run(args)
    import bench  # the repo's frozen bench: its single-core star8 kernel canary
    with PeakRss() as rss:
        _, get_spark_s = run.timed("session", "get_spark", run.start_session)
        wl = WORKLOADS[args.workload](run)
        t_warm = time.time()
        wl.inputs()
        wl.warm()
        warm_s = time.time() - t_warm
        setup_s = time.time() - t_process
        if args.plant == "codegen":
            print(PLANTED_CODEGEN_LINE, file=sys.stderr, flush=True)
        star8_start = run.timed("geo.kernel", "contains", bench.bench_kernel_pip)[0] \
            if run.trace else None

        t_loop = time.time()
        if run.trace:
            walls, _ = closed_loop(run, wl, args.seconds, paired=True)
            e2e = wl.metrics(walls[True], sum(walls[True]))
            untraced = wl.metrics(walls[False], sum(walls[False]))
            overhead = sum(walls[True]) / sum(walls[False]) - 1.0
        else:
            walls, wall = closed_loop(run, wl, args.seconds)
            e2e = wl.metrics(walls[False], wall)
        phases = {"process_to_loop_s": t_loop - t_process, "loop_s": time.time() - t_loop}
        run.spark.sparkContext.setJobGroup("verify", "verify")
        t_verify = time.time()
        wl.verify()
        phases["verify_s"] = time.time() - t_verify
        probe = wl.probe() if run.trace else {}
        phases["probe_s"] = time.time() - t_verify - phases["verify_s"]
        star8_end = run.timed("geo.kernel", "contains", bench.bench_kernel_pip)[0] \
            if run.trace else None
        run.stop_session()
    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = rss.peak_mib

    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed, "errors": run.errors[:20],
              "phases": phases, "e2e": e2e, "workload": args.workload,
              "seed": args.seed}
    if run.trace:
        stats = eventlog.group_stats(
            eventlog.read_events(os.path.join(run.run_dir, "eventlog")))
        per_op = spark_op_stats(run.ops, stats)
        ops = list(per_op.values())
        layer = {f"spark.{k}": statistics.mean(o[k] for o in ops) for k in SPARK_OP_METRICS}
        layer["pip_join.udf_s"] = statistics.mean(o["udf_s"] for o in ops)
        layer.update({k: v for k, v in probe.items() if not k.startswith("_")})
        layer["session.get_spark_s"] = get_spark_s
        layer["session.warmup_s"] = warm_s
        layer["kernel.star8_pts_per_s"] = star8_start
        layer["kernel.star8_end_pts_per_s"] = star8_end
        layer["trace.overhead_ratio"] = overhead
        job = probe.get("_job", {})
        extra = {k: v for k, v in job.items() if not k.startswith("_")}
        for o in spark_op_stats(list(job.get("_ops", {}).values()), stats).values():
            kind = o["kind"]
            extra[f"{kind}.spark_jobs"] = o["jobs"]
            extra[f"{kind}.executor_run_s"] = o["executor_run_s"]
            extra[f"{kind}.udf_share"] = o["udf_s"] / max(1e-9, o["executor_run_s"])
        by_query: dict[str, list] = {}
        for o in ops:
            if o["kind"].startswith("q:"):
                by_query.setdefault(o["kind"][2:], []).append(o)
        for q, os_ in by_query.items():
            extra[f"q.{q}.s"] = statistics.median(o["wall"] for o in os_)
            extra[f"q.{q}.jobs"] = statistics.median(o["jobs"] for o in os_)
            extra[f"q.{q}.driver_gap_s"] = statistics.median(o["driver_gap_s"] for o in os_)
        extra["pip_join.udf_share"] = layer["pip_join.udf_s"] / max(1e-9, layer["spark.executor_run_s"])
        result.update({"layer": layer, "layer_extra": extra,
                       "self_s": run.tracer.self_times()})
        with open(args.trace_out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "layer": layer, "layer_extra": extra,
                       "self_s": result["self_s"],
                       "e2e_traced": e2e, "e2e_untraced": untraced,
                       "overhead": {k: e2e[k] / untraced[k] - 1.0
                                    for k in ("ops_per_s", "op_p50_s", "op_tail_s")},
                       "ops": per_op, "spans": run.tracer.spans}, f)
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
