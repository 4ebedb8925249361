#!/usr/bin/env python3
"""Closed-loop benchmark of workbench_spark: one client, one Spark driver.

    python3 perfbench/run.py --workload analyst_iterative_sf0.01 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, from a run with span wrappers installed around the
program's layers. The line before it is the run's environment record.
See perfbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import hashlib
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probe  # noqa: E402

# local[N]: N=2 on a 4-vCPU VM. At local[4] the same analyst mix peaked at
# 1,992 and 2,675 MB RSS in two runs, at local[2] at 1,958 and 2,004 MB;
# the two free cores absorb the JIT compiler threads.
CPUS = 2
# fixed driver heap (-Xms = -Xmx): no heap resizing between runs
DRIVER_MEM = "2g"
# the seed picks one of this many corpus variants, each with stored
# expected fingerprints; the full seed also drives the request stream
VARIANTS = 4
# timed passes continue while the next one is expected to end inside
# --seconds; at least this many always run
MIN_TIMED_PASSES = 1
# a run whose last timed sample is this much faster than its first is
# recorded as still warming up
TREND_LIMIT = 0.10
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ["analyst_iterative_sf0.01", "lifecycle_sf0.01"]


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--expected", default=EXPECTED,
                    help="expected-values file (default: perfbench/expected.json)")
    ap.add_argument("--record-expected", action="store_true",
                    help="store this run's outputs as the expected values of its "
                         "corpus variant instead of checking them")
    return ap.parse_args(argv)


def _source_digest() -> str:
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "workbench_spark")
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:12]


def _git_commit() -> str | None:
    """HEAD of the checkout, or None when it is not a git work tree."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _start_spark(work: str):
    from workbench_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _mark(what: str) -> None:
    print(f"# {probe.process_age_s():7.2f}s {what}", file=sys.stderr)


def run(args, work: str) -> tuple[dict, dict]:
    import corpus
    import workloads

    steal0, load0, loop0 = probe.host_steal_s(), probe.load_average(), probe.python_loop_s()
    variant = args.seed % VARIANTS
    data_dir = os.path.join(work, "data")
    corpus.write(data_dir, variant)

    _mark("corpus written")
    spark = _start_spark(work)
    _mark("spark started")
    sp = probe.SparkProbe(spark)
    sc = spark.sparkContext
    rss = probe.RssWatch()
    wl = workloads.build(args.workload, spark, data_dir, work, args.seed)
    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer(sp)
        installed = spans.install(tracer)
        print(f"# trace bindings {json.dumps(installed, sort_keys=True)}", file=sys.stderr)
    wl.setup()
    _mark("fixtures ready")

    expected_all = workloads.load_expected(args.expected)
    expected = expected_all.get(args.workload, {}).get(str(variant), {})
    recorded: dict = {}

    def one_pass(pass_i: int, timed: bool, traced: bool) -> dict:
        wl.before_pass(pass_i)
        if tracer:
            tracer.enabled = traced
            tracer.reset()
        rec = {"ops": {}, "traced": traced}
        gc0 = sp.gc_s() if traced else 0.0
        for name in wl.op_names:
            group = f"perfbench:{pass_i}:{name}"
            sc.setJobGroup(group, name, False)
            if tracer:
                tracer.group = group
            t0_ms = time.time() * 1e3
            c0 = probe.tree_cpu_s()
            t0 = time.perf_counter()
            try:
                out = wl.run_op(name)
            except Exception:  # a failed op counts, the run goes on
                out = None
                print(f"# {name} failed:\n{traceback.format_exc()[-3000:]}", file=sys.stderr)
            wall = time.perf_counter() - t0
            cpu = probe.tree_cpu_s() - c0
            rss.sample()
            # checks run untimed, untraced and outside the op's job group
            sc.setJobGroup("perfbench:check", name, False)
            if tracer:
                tracer.enabled = False
            ok = False
            # only timed operations count as attempted, so warm-up outputs
            # are not checked
            if out is not None and timed:
                if args.record_expected and name in wl.recorded_ops:
                    recorded[name] = out.check
                try:
                    ok = wl.check(name, out.check, expected)
                except Exception:  # a check that raises is a failed check
                    print(f"# {name} check failed:\n{traceback.format_exc()[-3000:]}",
                          file=sys.stderr)
            if tracer:
                tracer.enabled = traced
            op = {
                "build_s": out.build_s if out else wall, "exec_s": out.exec_s if out else 0.0,
                "wall_s": wall, "cpu_s": cpu, "ok": ok,
                "requests_s": out.requests_s if out else [],
                "requests_cpu_s": out.requests_cpu_s if out else [],
            }
            if traced:
                st = sp.group_stats(group)
                st["idle_s"] = max(wall - probe.covered_s(
                    st.pop("intervals"), t0_ms, t0_ms + wall * 1e3), 0.0)
                op["spark"] = st
            rec["ops"][name] = op
            print(f"# pass{pass_i}{'' if timed else ' warm'} {name}: "
                  f"{op['wall_s']:.3f}s cpu {op['cpu_s']:.2f}s ok={op['ok'] if timed else '-'}", file=sys.stderr)
        rec["pass_s"] = sum(op["wall_s"] for op in rec["ops"].values())
        rec["pass_cpu_s"] = sum(op["cpu_s"] for op in rec["ops"].values())
        if traced:
            rec["layers"] = tracer.reset()
            rec["gc_s"] = sp.gc_s() - gc0
            rec["retained_rdd_mb"] = sp.retained_rdd_mb()
        return rec

    # A traced run alternates traced and untraced timed passes, so a cold
    # first pass would land on one side only: it always warms up first.
    warm_passes = max(wl.warm_passes, 1) if args.trace else wl.warm_passes
    for i in range(warm_passes):
        one_pass(i, timed=False, traced=False)
    setup_wall_s = probe.process_age_s()
    setup_cpu_s = probe.tree_cpu_s()

    timed: list[dict] = []
    t_timed = time.perf_counter()
    min_passes = 2 if args.trace else MIN_TIMED_PASSES
    while True:
        i = warm_passes + len(timed)
        timed.append(one_pass(i, timed=True, traced=bool(args.trace) and len(timed) % 2 == 0))
        elapsed = time.perf_counter() - t_timed
        est = statistics.median(p["pass_s"] for p in timed)
        if len(timed) >= min_passes and elapsed + est > args.seconds:
            break
    served_ok = wl.check_served()

    if args.record_expected:
        expected_all.setdefault(args.workload, {})[str(variant)] = recorded
        with open(args.expected, "w") as f:
            json.dump(expected_all, f, indent=1, sort_keys=True)
            f.write("\n")

    untraced = [p for p in timed if not p["traced"]] or timed
    traced = [p for p in timed if p["traced"]]
    attempted = sum(len(p["ops"]) for p in timed)
    failed = sum(1 for p in timed for op in p["ops"].values() if not op["ok"])
    if not served_ok:
        failed += 1
        attempted += 1

    def pass_s(passes, key="wall_s"):
        return sum(statistics.median(p["ops"][n][key] for p in passes) for n in wl.op_names)

    def requests(key):
        """Per-request wall ("s") or CPU ("cpu_s") seconds; on query
        workloads one request is one operation."""
        got = [r for p in untraced for op in p["ops"].values() for r in op[f"requests_{key}"]]
        op_key = "wall_s" if key == "s" else key
        return got or [op[op_key] for p in untraced for op in p["ops"].values()]

    if args.trace:
        metrics = _layer_metrics(wl, traced, pass_s(traced) - pass_s(untraced))
    else:
        values = {
            "setup_s": setup_cpu_s,
            "pass_cpu_s": pass_s(untraced, "cpu_s"),
            "op_ok_frac": (attempted - failed) / attempted,
            "peak_rss_mb": rss.peak_mb(),
            "request_cpu_p50_s": statistics.median(requests("cpu_s")),
        }
        metrics = {k: (v, END_TO_END[k]) for k, v in values.items()}
    pass_walls = [p["pass_s"] for p in untraced]
    # trend over the run's timed samples: the pass walls, or with a single
    # timed pass the lifecycle's request latencies; None when one sample
    samples = pass_walls if len(pass_walls) > 1 else [
        r for p in untraced for op in p["ops"].values() for r in op["requests_s"]
    ]
    trend = (
        (samples[0] - samples[-1]) / statistics.median(samples) if len(samples) > 1 else None
    )
    env = {
        "workload": args.workload, "seed": args.seed, "corpus_variant": variant,
        "trace": args.trace, "cpus_local_n": CPUS, "nproc": os.cpu_count(),
        "driver_mem": DRIVER_MEM,
        "host_steal_s": round(probe.host_steal_s() - steal0, 2),
        "load_avg_start": load0, "load_avg_end": probe.load_average(),
        "python_loop_s_start": round(loop0, 4), "python_loop_s_end": round(probe.python_loop_s(), 4),
        "python": platform.python_version(), **sp.versions(),
        "git_commit": _git_commit(), "source_digest": _source_digest(),
        "warm_passes": warm_passes, "timed_passes": len(timed),
        "setup_wall_s": round(setup_wall_s, 2),
        "pass_wall_s": round(pass_s(untraced), 3),
        "request_wall_p50_s": round(statistics.median(requests("s")), 4),
        "pass_walls_s": [round(x, 3) for x in pass_walls],
        "pass_cpus_s": [round(p["pass_cpu_s"], 2) for p in untraced],
        "trend": None if trend is None else round(trend, 4),
        "steady": None if trend is None else trend <= TREND_LIMIT,
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, env


# what a --trace 0 run prints: every end-to-end metric with its unit
END_TO_END = {
    "setup_s": "s", "pass_cpu_s": "s", "op_ok_frac": "fraction", "peak_rss_mb": "MB",
    "request_cpu_p50_s": "s",
}

# per-operation scheduler/executor totals, summed over a pass
SPARK_PER_OP = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_run_s", "s"), ("task_cpu_s", "s"), ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("idle_s", "s"),
]


def _layer_metrics(wl, traced: list[dict], overhead_s: float) -> dict:
    import spans
    from workloads import OPS_WITH_METRICS

    med = statistics.median
    out: dict[str, tuple[float, str]] = {}
    for key, unit in SPARK_PER_OP:
        out[f"spark.{key}"] = (
            med(sum(op["spark"][key] for op in p["ops"].values()) for p in traced), unit
        )
    out["spark.retained_rdd_mb"] = (traced[-1]["retained_rdd_mb"], "MB")
    out["jvm.gc_s"] = (med(p["gc_s"] for p in traced), "s")
    for name in OPS_WITH_METRICS:
        ran = name in wl.op_names
        for key, unit in (("build_s", "s"), ("exec_s", "s")):
            out[f"op.{name}.{key}"] = (
                med(p["ops"][name][key] for p in traced) if ran else 0.0, unit
            )
        out[f"op.{name}.jobs"] = (
            med(p["ops"][name]["spark"]["jobs"] for p in traced) if ran else 0, "count"
        )
    for layer, suffixes in spans.LAYER_METRICS.items():
        vals = [p["layers"].get(layer, [0, 0.0, 0]) for p in traced]
        calls, secs, jobs = (med(v[i] for v in vals) for i in range(3))
        got = {"calls": (calls, "count"), "s": (secs, "s"), "jobs": (jobs, "count")}
        for suffix in suffixes:
            out[f"{layer}.{suffix}"] = got[suffix]
    out["tracing_overhead_s"] = (overhead_s, "s")
    return out


def _stop_spark() -> None:
    """Stop the SparkContext, then close the JVM's stdin: the gateway JVM
    exits on end of input, taking its Python worker daemon with it. What
    is still running afterwards is ended by ``probe.stop_descendants``."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # the JVM is stopped below either way
            traceback.print_exc()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        pass  # stop_descendants terminates it


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "workbench_spark")):
        print(f"perfbench: no workbench_spark/ package under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # everything Spark and Python write goes under the checkout
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_GRAFT_HOSTILE_PARTS", None)
    sys.path.insert(0, ROOT)
    probe.become_subreaper()
    # a timeout that sends SIGTERM ends the run through the same clean-up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, env = run(args, work)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        _stop_spark()
        left = probe.stop_descendants()
        if left:
            print(f"perfbench: processes {left} did not exit", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps({"env": env}, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
