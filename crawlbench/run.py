"""Crawl-frontier benchmark.

    python3 crawlbench/run.py --workload wave_bulk --seed 1 --seconds 10 --trace 0
    python3 crawlbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root. Each workload runs in its own process and
JVM; ``all`` runs every workload that way in turn. Human-readable lines
come first; the last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics, or with ``--trace 1`` the per-layer ones). The exit code is
non-zero when any output differs from the pure-Python oracles. Inputs are
cached and every scratch file is written under ``.crawlbench-work/``.
"""

import time

T_PROC = time.time()  # "process start" for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".crawlbench-work")
WORKLOAD_NAMES = ("wave_bulk", "crawl_rounds")

# (name, unit) printed for every workload; error_frac is also carried by
# the JSON's attempted/failed fields because it is 0 on correct code
E2E_METRICS = (
    ("setup_s", "s"),
    ("urls_per_s", "URL/s"),
    ("wave_s_p50", "s"),
    ("peak_rss_mb", "MiB"),
)

# (name, unit, better) reported by a traced run; a layer a workload does
# not exercise reports 0
LAYER_METRICS = (
    ("corpus.scan_s", "s", "lower"),
    ("corpus.scan_bytes", "bytes", "lower"),
    ("urls.prepare_s", "s", "lower"),
    ("urls.dedup_ratio", "ratio", "lower"),
    ("seen.build_s", "s", "lower"),
    ("seen.filter_s", "s", "lower"),
    ("seen.bloom_pass_frac", "ratio", "lower"),
    ("seen.bloom_fp_frac", "ratio", "lower"),
    ("seen.state_bytes", "bytes", "lower"),
    ("frontier.select_s", "s", "lower"),
    ("frontier.selected_frac", "ratio", "higher"),
    ("frontier.host_max_share", "ratio", "lower"),
    ("fetch.join_s", "s", "lower"),
    ("fetch.shuffle_bytes", "bytes", "lower"),
    ("livefetch.fetch_s", "s", "lower"),
    ("livefetch.req_per_s", "1/s", "higher"),
    ("livefetch.conn_per_req", "ratio", "lower"),
    ("livefetch.error_kinds.non200", "count", "lower"),
    ("livefetch.error_kinds.other", "count", "lower"),
    ("origin.cpu_frac", "cores", "lower"),
    ("extraction.extract_s", "s", "lower"),
    ("extraction.full_body_s", "s", "lower"),
    ("extraction.rows", "count", "higher"),
    ("extraction.parse_error_frac", "ratio", "lower"),
    ("throughput.features_s", "s", "lower"),
    ("ordering.prefix_sum_s", "s", "lower"),
    ("snapshots.write_s", "s", "lower"),
    ("snapshots.commit_s", "s", "lower"),
    ("snapshots.files_read_per_round", "count", "lower"),
    ("snapshots.bytes_per_fetched_url", "bytes", "lower"),
    ("crawl.jobs_per_round", "count", "lower"),
    ("crawl.driver_gap_s", "s", "lower"),
    ("crawl.round_s_by_index.0", "s", "lower"),
    ("crawl.round_s_by_index.1", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
)
SPARK_UNITS = {
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "executor_run_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_read_bytes": ("bytes", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "cpu_busy_frac": ("ratio", "higher"),
}


def layer_metric_specs() -> list:
    from crawlbench.harness import LAYERS, SPARK_COUNTERS

    specs = list(LAYER_METRICS)
    for layer in LAYERS:
        for c in SPARK_COUNTERS:
            specs.append((f"{layer}.spark.{c}", *SPARK_UNITS[c]))
    return specs


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_all(args) -> int:
    """Every workload in its own process (and so its own JVM)."""
    code, results = 0, {}
    for w in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        code = code or proc.returncode
        results[w] = json.loads(lines[-1]) if lines else None
    print(json.dumps(results))
    return code


def main(argv=None) -> int:
    args = _args(argv)
    if args.workload == "all":
        return run_all(args)

    work = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # everything Spark, the JVM and Python's tempfile write stays in here
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from crawlbench.harness import RssSampler, Tracer, start_session, stop_session
    from crawlbench.workloads import WORKLOADS, Ctx

    prepare, run = WORKLOADS[args.workload]
    t = time.time()
    spec = prepare(os.path.join(WORK, "inputs"), args.seed)
    gen_s = time.time() - t

    with RssSampler() as rss:
        spark = start_session(f"crawlbench-{args.workload}", work)
        try:
            tracer = Tracer(spark, enabled=bool(args.trace))
            ctx = Ctx(spark, args.seconds, bool(args.trace), work, rss, tracer)
            out = run(ctx, spec)
        finally:
            stop_session(spark)

    setup_s = out.setup_end - T_PROC - gen_s
    error_frac = out.failed / max(1, out.attempted)
    e2e = {
        "setup_s": setup_s,
        "urls_per_s": out.good / out.wall if out.wall > 0 else 0.0,
        "wave_s_p50": statistics.median(out.waves) if out.waves else 0.0,
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    print(f"gen_s {gen_s:.4f} s (input generation, not in setup_s)")
    for name, unit in E2E_METRICS:
        print(f"{name} {e2e[name]:.6g} {unit}")
    print(f"error_frac {error_frac:.6g} ratio ({out.failed} of {out.attempted} URLs)")
    print(f"waves {len(out.waves)} timed, durations_s {[round(w, 4) for w in out.waves]}")
    for k, v in out.notes.items():
        print(f"{k} {v}")
    for p in out.problems:
        print(f"PROBLEM {p}", file=sys.stderr)

    if args.trace:
        per = out.notes.get("rounds_traced", 1)
        counters = {
            k: (v if k.endswith("cpu_busy_frac") else v / per)
            for k, v in tracer.spark_counters().items()
        }
        values = {**counters, **out.layer}
        metrics = {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit, _ in layer_metric_specs()
        }
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({**tracer.dump(), "notes": out.notes, "metrics": metrics}, f)
        for name, m in metrics.items():
            print(f"layer {name} {m['value']:.6g} {m['unit']}")
        print(f"trace spans and jobs written to {os.path.relpath(path, ROOT)}")
    else:
        units = dict(E2E_METRICS)
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": metrics,
    }))
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
