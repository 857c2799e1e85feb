"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload quantify|near_dup \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from
``--seed`` (cached under ``.perfbench/cache``), then runs the workload
in its own process (``worker.py``) on ``local[<cores>]`` as a closed
loop with one client. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it, and ``.perfbench/runs/<workload>-<seed>-<trace>.json``,
hold the full run record: host pinning, versions, load average, and
every iteration. See README.md.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 170  # the whole run, generation included, must end before this

SPANS = {
    "quantify": [
        "index.build_index",
        "quantify.count_read_kmers",
        "tare.calibrate_kmers",
        "quantify.map_kmers_to_classes",
        "quantify.em_loop",
        "genomics.save_abundances_text",
    ],
    "near_dup": [
        "dedup.exact_dup_groups",
        "dedup.lsh_candidate_pairs",
        "dedup.verify_pairs",
        "clustering.connected_components",
        "sink.write_partitioned",
        # the curate command's text, repetition and LM stages, each as
        # its standalone operator on the same corpus
        "text.normalize_text",
        "text.c4_clean",
        "text.gopher_quality",
        "text.redact_pii",
        "text.quality_scores",
        "repetition.repetition_stats",
        "lm.train_char_lm",
        "lm.lm_perplexity",
    ],
}
SPAN_UNITS = {"self_s": "s", "tasks": "count", "task_skew": "ratio", "shuffle_mb": "MB",
              "spill_mb": "MB"}
COUNT_UNITS = {
    "quantify.count_read_kmers.rows_out": "rows",
    "index.build_index.rows_out": "rows",
    "quantify.em_loop.jobs": "count",
    "dedup.lsh_candidate_pairs.rows_out": "rows",
    "dedup.verify_pairs.rows_out": "rows",
    "dedup.verify_pairs.yield": "ratio",
    "clustering.connected_components.jobs": "count",
    "lm.train_char_lm.rows_out": "rows",
    "sink.write_partitioned.bytes_out": "bytes",
}
QUALITY_UNITS = {"abundance_l1": "ratio", "model_l1": "ratio", "dup_recall": "ratio",
                 "dup_precision": "ratio"}
TRACE_UNITS = {"trace.cli_untraced_s": "s", "trace.cli_traced_s": "s", "trace.overhead": "ratio"}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name → unit, in BENCHMARK.json order."""
    names = {}
    for span in dict.fromkeys(s for spans in SPANS.values() for s in spans):
        names.update({f"{span}.{m}": u for m, u in SPAN_UNITS.items()})
    names.update(COUNT_UNITS)
    names.update(QUALITY_UNITS)
    names.update(TRACE_UNITS)
    return names


# The driver JVM's heap, fixed (-Xms = -Xmx, see worker._session): with
# a heap that grows on demand, G1 grows it by load-dependent amounts and
# peak RSS of the same code spread by 15-28% between runs.
DRIVER_MEMORY = "1g"


def host_record(seed: int) -> dict:
    """Host pinning: cores, a fixed driver heap below MemTotal, local
    dirs inside the checkout; versions and the seed."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    import pyspark

    return {
        "seed": seed,
        "cores": cores,
        "mem_total_mb": mem_kb // 1024,
        "driver_memory": DRIVER_MEMORY,
        "spark": pyspark.__version__,
        "java": java.splitlines()[0] if java else None,
        "python": sys.version.split()[0],
        "load_start": os.getloadavg(),
    }


def run_worker(cfg: dict, host: dict, deadline: float) -> dict:
    """Start ``worker.py`` in its own session (process group), wait for
    it, and make sure every process of the group has ended."""
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join([ROOT, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
            "SPARK_GRAFT_CPUS": str(host["cores"]),
            "SPARK_GRAFT_DRIVER_MEMORY": host["driver_memory"],
            "SPARK_LOCAL_DIRS": cfg["local_dirs"],
            "TMPDIR": cfg["tmp"],
        }
    )
    env.pop("OMP_NUM_THREADS", None)
    cfg["spawned"] = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
        cwd=cfg["work"],
        env=env,
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print("workload process timed out", file=sys.stderr)
    finally:
        _stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(cfg["result"]):
        raise RuntimeError(f"workload process exited with {proc.returncode}")
    with open(cfg["result"]) as fh:
        return json.load(fh)


def _stop_group(proc: subprocess.Popen) -> None:
    """Signal the workload's process group, give it time to end, then kill it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            pass


def quartiles(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return {"n": len(xs), "q1": q[0], "median": statistics.median(xs), "q3": q[2]}


def end_to_end(res: dict, cfg: dict, records: int) -> tuple[dict, int, int, dict]:
    iters = res["iterations"]
    failed = sum(1 for it in iters if it["error"]) + bool(res["warmup"]["error"])
    ok = [it for it in iters if not it["error"]] or iters
    walls = [it["wall_s"] for it in ok]
    wall = statistics.median(walls)
    scores = [it["truth_score"] for it in ok if it["truth_score"] is not None]
    metrics = {
        "setup_s": (res["setup_end"] - cfg["spawned"], "s"),
        "wall_s": (wall, "s"),
        "records_per_s": (records / wall, "records/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "truth_score": (statistics.median(scores) if scores else 0.0, "ratio"),
    }
    return metrics, len(iters) + 1, failed, {"wall_s": quartiles(walls)}


def per_layer(res: dict) -> tuple[dict, int, int, dict]:
    units = per_layer_names()
    values = dict.fromkeys(units, 0)
    values.update(res["spans"])
    values.update(res["counts"])
    values.update(res["quality"])
    values["trace.cli_untraced_s"] = res["cli_untraced_s"]
    values["trace.cli_traced_s"] = res["cli_traced_s"]
    values["trace.overhead"] = res["cli_traced_s"] / res["cli_untraced_s"] - 1.0
    metrics = {k: (values[k], units[k]) for k in units}
    failed = min(len(res["errors"]), res["attempted"])
    return metrics, res["attempted"], failed, {"errors": res["errors"]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SPANS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(W.SIZES), default="full",
                   help="input size; 'tiny' is for the smoke test")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rnadam_spark", "cli.py")):
        print(f"no rnadam_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2

    # a terminated benchmark still stops its workload's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_LIMIT_S
    host = host_record(args.seed)
    t0 = time.perf_counter()
    paths, truth = W.make_inputs(args.workload, os.path.join(STATE, "cache"), args.seed,
                                 args.size)
    gen_s = time.perf_counter() - t0
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cfg = {
        "workload": args.workload,
        "paths": paths,
        "truth": os.path.join(os.path.dirname(next(iter(paths.values()))), "truth.json"),
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "work": work,
        "tmp": os.path.join(work, "tmp"),
        "local_dirs": os.path.join(work, "spark-local"),
        "result": os.path.join(work, "result.json"),
        "spans_out": os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-spans.json"),
        "deadline": time.time() + (deadline - time.monotonic()) - 15,
    }
    for d in (cfg["tmp"], cfg["local_dirs"], os.path.join(STATE, "runs")):
        os.makedirs(d, exist_ok=True)
    try:
        res = run_worker(cfg, host, deadline)
    finally:
        host["load_end"] = os.getloadavg()
    if args.trace:
        metrics, attempted, failed, detail = per_layer(res)
    else:
        metrics, attempted, failed, detail = end_to_end(res, cfg, W.records(args.workload, truth))
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "size": args.size,
        "host": host,
        "inputs": truth["sizes"],
        "generate_s": gen_s,
        "detail": detail,
        "worker": res,
    }
    with open(os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: v for k, v in record.items() if k != "worker"}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
