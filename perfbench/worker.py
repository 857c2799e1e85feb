"""One workload in one process: start the session, run one untimed
warm-up iteration, then either time CLI iterations for ``seconds``
(closed loop, one client) or run the traced composition.

Invoked by ``run.py`` as ``python3 worker.py CONFIG_JSON``; writes its
result to ``config["result"]``. Spark's own output goes to stderr.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time
import traceback

import workloads as W

MIN_ITERATIONS = 1


def _session(cfg: dict, event_log_dir: str | None = None):
    from rnadam_spark.session import get_spark

    # the heap starts at its maximum (spark.driver.memory), so the JVM's
    # RSS does not follow G1's load-dependent heap growth
    heap = os.environ["SPARK_GRAFT_DRIVER_MEMORY"]
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={cfg['tmp']} -Xms{heap}"}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(f"perfbench-{cfg['workload']}", extra_conf=conf)


def _iteration(cfg: dict, truth: dict, state: dict, work: str) -> dict:
    """Run one iteration's CLI commands; time them; check the output.
    A raise or a failed check is returned as ``error``."""
    from rnadam_spark import cli

    argvs, out = W.cli_argvs(cfg["workload"], cfg["paths"], work)
    t0 = time.perf_counter()
    try:
        for argv in argvs:
            cli.main(argv)
    except Exception:
        traceback.print_exc()
        return {"wall_s": time.perf_counter() - t0, "error": "raised", "end": time.time()}
    wall = time.perf_counter() - t0
    end = time.time()
    try:
        quality = W.check(cfg["workload"], out, truth, state)
    except W.CheckFailed as e:
        print(f"output check failed: {e}", file=sys.stderr)
        return {"wall_s": wall, "error": f"check: {e}", "end": end}
    return {"wall_s": wall, "error": None, "end": end, "quality": quality, "out": out}


def _peak_rss_mb(spark) -> float:
    """VmHWM of the session's JVM plus this Python driver's max RSS."""
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def timed(cfg: dict, truth: dict) -> dict:
    spark = _session(cfg)
    state: dict = {}
    warm = _iteration(cfg, truth, state, os.path.join(cfg["work"], "iter"))
    iters = []
    t0 = time.perf_counter()
    while len(iters) < MIN_ITERATIONS or time.perf_counter() - t0 < cfg["seconds"]:
        if iters and time.time() + 1.5 * iters[-1]["wall_s"] > cfg["deadline"]:
            break  # one more iteration would overrun the run's time limit
        it = _iteration(cfg, truth, state, os.path.join(cfg["work"], "iter"))
        it.pop("out", None)
        iters.append(it)
    result = {
        "setup_end": warm["end"],
        "warmup": {k: v for k, v in warm.items() if k in ("wall_s", "error")},
        "iterations": [
            {
                "wall_s": it["wall_s"],
                "error": it["error"],
                "truth_score": it.get("quality", {}).get("truth_score"),
            }
            for it in iters
        ],
        "peak_rss_mb": _peak_rss_mb(spark),
    }
    spark.stop()
    return result


def traced(cfg: dict, truth: dict) -> dict:
    """Warm up; time one CLI iteration with the event log off, one with
    it on, and one more with it off, each the first iteration of a fresh
    SparkContext in the same, already warm JVM; run the traced
    composition in the event-log context and compare its output with
    the untraced one. ``trace.overhead`` sets the traced iteration
    against the mean of the untraced ones before and after it, so the
    JVM's warming over the run does not read as overhead."""
    import eventlog

    workload = cfg["workload"]
    state: dict = {}

    def fresh(name: str, log_dir: str | None = None):
        spark = _session(cfg, log_dir)
        if log_dir:
            spark.sparkContext.setJobGroup("cli", "cli")
        return spark, _iteration(cfg, truth, state, os.path.join(cfg["work"], name))

    spark, warm = fresh("warm")
    spark.stop()
    spark, off = fresh("untraced")
    spark.stop()
    log_dir = os.path.join(cfg["work"], "eventlog")
    spark, on = fresh("cli_traced", log_dir)
    sc = spark.sparkContext

    tracer = eventlog.Tracer(sc)
    errors = []
    counts: dict = {}
    quality: dict = {}
    try:
        out, counts = W.trace(workload, spark, tracer, cfg["paths"], os.path.join(cfg["work"], "spans"))
        quality = W.check(workload, out, truth, {})
        if off["error"] is None:
            diff = W.same_output(workload, out, off["out"])
            if diff:
                errors.append(f"traced output differs from untraced: {diff}")
        if workload == "near_dup":
            counts["sink.write_partitioned.bytes_out"] = W.output_bytes(out)
    except Exception as e:
        traceback.print_exc()
        errors.append(f"trace: {e!r}")
    spark.stop()
    tracer.write(cfg["spans_out"])
    spark, off_after = fresh("untraced_after")
    spark.stop()
    cli = {"warmup": warm, "untraced": off, "traced cli": on, "untraced after": off_after}
    errors += [f"{name}: {it['error']}" for name, it in cli.items() if it["error"]]

    groups = eventlog.job_group_metrics(eventlog.read_events(log_dir))
    spans = {}
    for name, self_s in tracer.self_seconds().items():
        spans.update(eventlog.span_metrics(name, self_s, groups.get(name)))
    for name in ("quantify.em_loop", "clustering.connected_components"):
        if name in groups:
            counts[f"{name}.jobs"] = groups[name]["jobs"]
    return {
        "spans": spans,
        "counts": counts,
        "quality": quality,
        "cli_wall_s": {name: it["wall_s"] for name, it in cli.items()},
        "cli_untraced_s": (off["wall_s"] + off_after["wall_s"]) / 2,
        "cli_traced_s": on["wall_s"],
        "errors": errors,
        "attempted": len(cli) + 1,
    }


def main() -> None:
    cfg = json.loads(sys.argv[1])
    with open(cfg["truth"]) as fh:
        truth = json.load(fh)
    result = traced(cfg, truth) if cfg["trace"] else timed(cfg, truth)
    tmp = cfg["result"] + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, cfg["result"])


if __name__ == "__main__":
    main()
