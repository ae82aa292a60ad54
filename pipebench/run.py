"""Pipeline benchmark: one workload, one seed, one JSON result line.

    python3 pipebench/run.py --workload parse_wide --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. Everything the run
writes goes under ``.pipebench_work/`` in that checkout. The last line of
standard output is the result: with ``--trace 0`` the end-to-end metrics
of BENCHMARK.json, with ``--trace 1`` its per-layer metrics. The line
before it holds the host description, the raw samples and every problem
a check found. See pipebench/NOTES.md for the definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3  # set-ups per run; setup_s is their median


def _env(work: str) -> None:
    """Keep Spark, its Python workers and temp files inside ``work``, and
    drop the program's tuning overrides so every run measures the same
    configuration."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for k in ("WATCHMAN_BUCKET_SUBSPLITS", "WATCHMAN_DRIVER_MEM"):
        os.environ.pop(k, None)


def start_session(ctx, wl, event_log_dir: str | None) -> None:
    """A fresh session (the JVM is launched only the first time) and the
    workload's dimensions and config."""
    from watchman_spark.session import get_spark

    from pipebench import host

    ctx.spark = get_spark("pipebench", master=f"local[{host.nproc()}]",
                          extra_conf=host.spark_conf(ctx.work, event_log_dir))
    wl.load_dims(ctx)


def stop_session(ctx) -> None:
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None


def shutdown(ctx) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    stop_session(ctx)
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(workload: str, seed: int, seconds: float, traced: bool) -> tuple[dict, dict, dict]:
    from pipebench import host, trace
    from pipebench.workloads import WORKLOADS, Ctx, failed_frac

    work = os.path.join(ROOT, ".pipebench_work")
    shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)  # a killed run's leftovers
    info: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(traced),
                  "host": host.host_info(work)}
    ctx = Ctx(work, seed, seconds, trace.Tracer(False))
    wl = WORKLOADS[workload]()
    info["gen_s"] = wl.prepare(ctx)
    log_dir = os.path.join(work, "eventlog", f"{workload}-{seed}-{os.getpid()}")
    if traced:
        os.makedirs(log_dir)
    untraced, traced_ops, extras = [], [], {}
    try:
        setups, sessions = [], []
        for _ in range(SETUPS):
            stop_session(ctx)
            t0 = time.perf_counter()
            start_session(ctx, wl, None)
            sessions.append(time.perf_counter() - t0)
            wl.warm(ctx)
            setups.append(time.perf_counter() - t0)
        if not traced:
            ticks = host.cpu_ticks()
            for _ in range(wl.n_ops(seconds)):
                host.quiesce(ctx.spark)
                untraced.append(wl.op(ctx, keep=False))
            info["ops_cpu"] = host.cpu_shares(ticks, host.cpu_ticks())
        else:
            # one untraced operation in the last set-up's session, then one
            # traced operation in a fresh session, each as the session's third
            # operation (the first ones of a session run slower, and the
            # ladder rungs come later); only the traced session logs events
            wl.warm(ctx)
            host.quiesce(ctx.spark)
            untraced.append(wl.op(ctx, keep=False))
            stop_session(ctx)
            start_session(ctx, wl, log_dir)
            wl.warm(ctx)
            wl.warm(ctx)
            host.quiesce(ctx.spark)
            ctx.tracer.enabled, ctx.tracer.op = True, 1
            traced_ops.append(wl.op(ctx, keep=True))
            ctx.tracer.op = 0
            extras = wl.traced_extras(ctx, traced_ops)
        peak_mb = host.peak_rss_mb()
    finally:
        shutdown(ctx)
        shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)
    info["setups_s"], info["session_start_s"] = setups, sessions
    ops = traced_ops if traced else untraced
    if not traced:
        values = e2e_metrics(ops, setups, peak_mb, info)
    else:
        values = layer_metrics(ops, untraced, extras, trace.read_event_logs(log_dir), setups, info, wl)
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        ctx.tracer.dump(os.path.join(work, "traces", f"{workload}-{seed}.json"))
    info["ops"] = [{"wall_s": o.wall_s, "turns": o.turns, "attempted": o.attempted,
                    "failed": o.failed, "layers": o.layers, "problems": o.problems} for o in ops]
    info["failed_frac"] = failed_frac(ops)
    result = {"correct": all(o.failed == 0 and not o.problems for o in ops),
              "attempted": sum(o.attempted for o in ops), "failed": sum(o.failed for o in ops)}
    return result, values, info


def e2e_metrics(ops, setups, peak_mb, info) -> dict[str, float]:
    from pipebench.trace import median, tail

    fresh = [x for o in ops for x in o.fresh_s]
    tail_v, tail_pct, n = tail(fresh)
    info["fresh_tail"] = {"percentile": tail_pct, "samples": n}
    return {
        "setup_s": median(setups),
        "turns_per_s": sum(o.turns for o in ops) / sum(o.wall_s for o in ops),
        "fresh_p50_s": median(fresh),
        "fresh_tail_s": tail_v,
        "peak_rss_mb": peak_mb,
        "sink_bytes_per_turn": median([o.sink_bytes / o.turns for o in ops]),
    }


def layer_metrics(ops, untraced, extras, events, setups, info, wl) -> dict[str, float]:
    from pipebench.trace import median, spark_metrics

    def med(key):
        return median([o.layers[key] for o in ops if key in o.layers])

    out = {k: med(k) for k in {k for o in ops for k in o.layers}}
    out.update(extras)
    sm = spark_metrics(events, [o.window for o in ops])
    units = [max(1.0, o.layers.get("stream.epochs", 1.0)) for o in ops]  # per epoch in tail_stream
    for name, key in (
        ("spark.jobs", "jobs"), ("spark.stages", "stages"), ("spark.tasks", "tasks"),
        ("spark.executor_run_s", "run_s"), ("spark.executor_cpu_s", "cpu_s"), ("spark.gc_s", "gc_s"),
        ("spark.shuffle_write_bytes", "shuffle_write"), ("spark.shuffle_read_bytes", "shuffle_read"),
        ("spark.spill_bytes", "spill"),
    ):
        out[name] = median([m[key] / u for m, u in zip(sm, units)])
    out["spark.write_task_skew"] = median([x for m in sm for x in m["write_skews"]])
    out["spark.scan_rows_per_turn"] = median([m["scan_records"] / o.turns for m, o in zip(sm, ops)])
    for m, o in zip(sm, ops):  # the event log must see each input turn scanned once
        if m["scan_records"] != o.turns:
            o.problems.append(f"Spark scanned {m['scan_records']} records for {o.turns} turns")
            o.failed = o.attempted
    for k in ("warehouse.data_files", "warehouse.commits"):
        out[k] = median([o.layers[k] / u for o, u in zip(ops, units) if k in o.layers])
    cost = median([o.wall_s / o.turns for o in ops])
    base = median([o.wall_s / o.turns for o in untraced])
    out["trace.overhead_frac"] = cost / base - 1.0
    out["setup.cold_s"] = setups[0]
    out["gen_s"] = wl.inp.gen_cost_s
    info["spark_per_op"] = sm
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "watchman_spark")):
        print(f"pipebench: no watchman_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"pipebench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".pipebench_work")
    _env(work)
    sys.path.insert(0, ROOT)
    result, values, info = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    declared = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    print(json.dumps({"info": info}), flush=True)
    result["metrics"] = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
