"""polycheck_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pip_dense --seed 1 --seconds 6 --trace 0

Workloads (one closed-loop client, ``local[nproc]`` Spark):

* ``pip_dense``: repeated ``pip_join(spark, pages, layer).count()`` over
  500k synthetic geocoded pages (20% hot-spot mix) against a seeded dense
  layer, ``synthetic_layer(64, 256, 1024, base_radius=20)``, ~27k vertices.
  Its traced run also runs ``pip_join_job.run_job`` through ``io.tables``:
  fresh, failed at a seeded bucket, resumed.
* ``sf01_queries``: a seeded order of ``__spark_entry__.queries()`` rows,
  at least one per operator layer, each built then counted, over seeded
  ``documents``/``embeddings`` tables of the sf0.01 sizes.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones: ``setup_s``,
``docs_per_s``, ``ops_per_s``, ``op_p50_s``, ``op_tail_s``, ``peak_rss_mb``;
an op is a pip pass or a query; ``setup_s`` is the cold set-up, from
process start to every op shape run once.  With ``--trace 1`` they are the
per-layer metrics, and the spans, per-op Spark accounting and
workload-specific layer metrics go to
``.perfbench/out/trace-<workload>-seed<n>.json``.  Lines before the result
print every metric with its unit, under the names the workload defines
(``pip_docs_per_s``, ``query_p50_s``, ``resume_s``, ``error_rate``, ...).

The run happens in a child process whose stdout and stderr (the JVM log)
are captured.  A whole-stage-codegen compile failure in that log is a failed
op (``bench.codegen_failures``), and any failed op or wrong output makes the
run fail: it exits 1.  ``--plant wrong`` drops one output row before a
comparison and ``--plant codegen`` logs a compile-failure line, to show
that both fail the run.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pip_dense", "sf01_queries")
NEEDED = ("polycheck_spark", "bench.py", "__spark_entry__.py",
          os.path.join("tools", "selfcheck.py"),
          os.path.join("tests", "test_kernel_golden.py"))
CHILD_TIMEOUT_S = 170
UNITS = {"setup_s": "s", "docs_per_s": "docs/s", "ops_per_s": "1/s",
         "op_p50_s": "s", "op_tail_s": "s", "peak_rss_mb": "MiB",
         "pip_docs_per_s": "pages/s", "job_docs_per_s": "pages/s",
         "queries_per_s": "1/s", "query_p50_s": "s", "query_tail_s": "s",
         "resume_s": "s", "error_rate": "ratio"}
E2E = ("setup_s", "docs_per_s", "ops_per_s", "op_p50_s", "op_tail_s", "peak_rss_mb")


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def extra_unit(name: str) -> str:
    """Unit of a workload-specific layer metric, from its name."""
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("jobs", "bucket")):
        return "count"
    return "ratio"


def kill_group(child: subprocess.Popen) -> None:
    """SIGKILL the child's process group (JVM, Python workers), reap the
    child and wait until none of the group's processes is left."""
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    child.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(child.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", choices=("wrong", "codegen"), default=None)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {WORKLOADS}", file=sys.stderr)
        return 2
    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"not a polycheck_spark checkout: {ROOT} lacks {missing}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench", "out")
    run_dir = os.path.join(ROOT, ".perfbench", "tmp",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    trace_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    log_path = os.path.join(run_dir, "child.log")
    env = dict(os.environ)
    env.update({
        # Python workers import polycheck_spark from the checkout
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # the short-lived spark-submit launcher JVM: no /tmp/hsperfdata file
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PERFBENCH_T0": repr(time.time()),
    })
    cmd = [sys.executable, os.path.join(HERE, "harness.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--result", result_path, "--trace-out", trace_path]
    if args.plant:
        cmd += ["--plant", args.plant]
    with open(log_path, "w") as log:
        child = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                 stderr=subprocess.STDOUT, start_new_session=True)

        def stop(signum, _frame):
            kill_group(child)
            shutil.rmtree(run_dir, ignore_errors=True)
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            rc = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        kill_group(child)
    with open(log_path, errors="replace") as f:
        log_text = f.read()
    try:
        with open(result_path) as f:
            res = json.load(f)
    except (OSError, json.JSONDecodeError):
        res = None
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or res is None:
        sys.stderr.write(log_text[-6000:])
        why = "timed out" if rc is None else f"exited {rc}"
        print(f"benchmark child {why} without a result", file=sys.stderr)
        return 1

    sys.path.insert(0, ROOT)
    from bench import codegen_failures
    fallbacks = codegen_failures(log_text)
    # one failure logs a "Failed to compile" line plus its stack trace
    n_fallbacks = sum("Failed to compile" in ln for ln in fallbacks) or len(fallbacks)
    failed = res["failed"] + n_fallbacks
    attempted = res["attempted"] + n_fallbacks
    correct = res["correct"] and not fallbacks
    for msg in res["errors"]:
        print(f"FAILED {msg}", file=sys.stderr)
    for ln in fallbacks[:10]:
        print(f"FAILED codegen fallback: {ln}", file=sys.stderr)

    e2e = res["e2e"]
    e2e["error_rate"] = failed / attempted
    with open(os.path.join(out_dir, f"result-{args.workload}-seed{args.seed}"
                                    f"-trace{args.trace}.json"), "w") as f:
        json.dump(dict(res, failed=failed, attempted=attempted, correct=correct), f)
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} ops={e2e['_n']}"
          + (" (end-to-end values below are traced)" if args.trace else ""))
    print(f"#   phases_s={ {k: round(v, 2) for k, v in res['phases'].items()} }")
    for k, v in e2e.items():
        if not k.startswith("_"):
            print(f"#   {k} = {v:.6g} {UNITS[k]}")
    print(f"#   op_tail_s is p{e2e['_tail_pct']:.0f} of {e2e['_n']} ops")
    if args.trace:
        layer, units = res["layer"], per_layer_units()
        metrics = {n: {"value": layer[n], "unit": u} for n, u in units.items()}
        units.update(UNITS)
        for k, v in sorted(layer.items()) + sorted(res["layer_extra"].items()):
            print(f"#   {k} = {v:.6g} {units.get(k) or extra_unit(k)}")
        for k, v in sorted(res["self_s"].items()):
            print(f"#   self time {k} = {v:.6g} s")
        print(f"#   spans: {trace_path}")
    else:
        metrics = {n: {"value": e2e[n], "unit": UNITS[n]} for n in E2E}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
