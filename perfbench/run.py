"""qsvspark benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload

Run it from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics (the traced run alternates untraced and traced
passes, so it also reports the tracing overhead). Lines before it give
each workload's named figures and failed_op_share.

Inputs, warehouses and Spark scratch space live in perfbench/_work and
are removed at exit; traces are written to perfbench/_out.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
LAST_PASS_START_S = 110.0  # after this long since process start, no new pass


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fault", action="store_true",
                    help="hand the checker one deliberately wrong result")
    return ap.parse_args(argv)


class Ctx:
    def __init__(self, spark, work, seed, cores, tracer, inject_fault):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.tracer, self.inject_fault = tracer, inject_fault

    def skew(self, stage):
        import tracing

        return tracing.task_skew(self.tracer, stage)


def _say(workload: str, name: str, value, unit: str, note: str = "") -> None:
    v = f"{value:.4f}" if isinstance(value, float) else str(value)
    print(f"[{workload}] {name} = {v} {unit}{'  (' + note + ')' if note else ''}", flush=True)


def run_one(args, spec) -> dict:
    import common

    t_proc0 = common.process_start_time()
    work = os.path.join(BENCH_DIR, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    common.prepare_env(work)
    spark = None
    try:
        spark, setup = common.setup_spark(work, t_proc0)
        import tracing
        import workloads

        phases = {"setup": time.time() - t_proc0}
        t_phase = time.time()
        tracer = tracing.Tracer(spark)
        if args.trace:
            tracing.install(tracer)
        ctx = Ctx(spark, work, args.seed, common.CORES, tracer, args.inject_fault)
        w = workloads.WORKLOADS[args.workload]()
        w.prepare(ctx)
        phases["prepare"] = time.time() - t_phase
        t_phase = time.time()
        for _ in range(w.WARM_PASSES):
            w.warm(ctx)
            spark.catalog.clearCache()
        phases["warm"] = time.time() - t_phase

        passes = []
        timed, t_loop = 0.0, time.time()
        while True:
            os.sync()  # write back the previous pass's files before timing
            p = workloads.Pass(ctx, len(passes))
            p.traced = bool(args.trace) and p.idx % 2 == 1
            tracer.active, tracer.pass_idx = p.traced, p.idx
            try:
                with tracer.span("pass") as rec:
                    if rec is not None:
                        p.out["span"] = rec["id"]
                    w.run_pass(ctx, p)
            except workloads.OpFailed:
                pass
            finally:
                tracer.active = False
            p.cached_after = common.cached_bytes(spark)
            spark.catalog.clearCache()
            t_check = time.time()
            try:
                p.errors = w.check(ctx, p)
            except Exception as e:  # outputs missing or unreadable
                p.errors = {o["name"]: [f"check raised {type(e).__name__}: {e}"] for o in p.ops}
            passes.append(p)
            timed += p.wall_s
            p.check_s = time.time() - t_check
            # traced runs go untraced, traced, untraced, ... so the
            # overhead compares passes on both sides of a traced one
            enough = timed >= args.seconds and len(passes) >= (
                max(w.MIN_PASSES, 3) if args.trace else w.MIN_PASSES)
            if enough or time.time() - t_proc0 > LAST_PASS_START_S:
                break

        phases["loop"] = time.time() - t_loop
        phases["checks"] = sum(p.check_s for p in passes)
        print(f"[{args.workload}] phases: "
              + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items()), flush=True)
        print(f"[{args.workload}] pass walls: "
              + ", ".join(f"{p.wall_s:.3f}s" for p in passes), flush=True)
        per_op: dict[str, list[float]] = {}
        for p in passes:
            for o in p.ops:
                per_op.setdefault(o["name"], []).append(o["s"])
        print(f"[{args.workload}] op medians: "
              + ", ".join(f"{k} {common.median(v):.3f}s" for k, v in per_op.items()), flush=True)
        ok_passes = [p for p in passes if not p.errors and all(o["error"] is None for o in p.ops)]
        done = [p for p in passes if all(o["error"] is None for o in p.ops)]
        try:
            selfcheck = bool(done) and w.selfcheck(ctx, done[-1])
        except Exception as e:  # the self-check itself broke: report, count as failed
            print(f"[{args.workload}] self-check raised {type(e).__name__}: {e}", flush=True)
            selfcheck = False
        attempted = sum(len(p.ops) for p in passes)
        failed = sum(1 for p in passes for o in p.ops if o["error"] or o["name"] in p.errors)
        for p in passes:
            for o in p.ops:
                if o["error"] or o["name"] in p.errors:
                    print(f"[{args.workload}] FAILED pass {p.idx} op {o['name']}: "
                          f"{o['error'] or p.errors[o['name']]}", flush=True)
        if not selfcheck:
            print(f"[{args.workload}] self-check: the checker accepted a wrong result",
                  flush=True)

        untraced = [p for p in passes if not getattr(p, "traced", False)]
        traced = [p for p in passes if getattr(p, "traced", False)]
        rss = common.peak_rss_mb(spark)
        e2e = {
            "setup_s": setup["total_s"],
            "pass_s": common.median([p.wall_s for p in untraced]),
            "op_p50_ms": 1e3 * common.median([
                common.median([o["s"] for p in untraced for o in p.ops if o["name"] == n])
                for n in dict.fromkeys(o["name"] for p in untraced for o in p.ops)]),
            "pass_cpu_s": common.median([p.cpu_s for p in untraced]),
            "peak_rss_mb": rss,
        }
        _say(args.workload, "setup_s", e2e["setup_s"], "s",
             "process start to session up and warm-up job done")
        _say(args.workload, "pass_s", e2e["pass_s"], "s", f"median of {len(untraced)} passes")
        _say(args.workload, "pass_cpu_s", e2e["pass_cpu_s"], "s", "CPU of driver, JVM and workers")
        _say(args.workload, "op_p50_ms", e2e["op_p50_ms"], "ms",
             f"median over operation kinds of each kind's median; "
             f"{sum(len(p.ops) for p in untraced)} operations")
        if ok_passes:
            for name, (v, unit) in w.report([p for p in untraced if p in ok_passes] or ok_passes).items():
                _say(args.workload, name, v, unit)
        _say(args.workload, "peak_rss_mb", rss, "MB", "VmHWM, JVM + Python workers")
        _say(args.workload, "failed_op_share", failed / max(attempted, 1), "ratio",
             f"{failed} of {attempted} operations")

        if args.trace:
            metrics = _layers(args, spec, ctx, w, setup, untraced, traced)
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        return {
            "correct": failed == 0 and selfcheck,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            common.shutdown(spark)
        common.rmtree(work)


def _layers(args, spec, ctx, w, setup, untraced, traced) -> dict:
    import common
    import tracing

    tracer = ctx.tracer
    tree = tracing.SpanTree(tracer, tracing.attribute(tracer))
    rows = []
    for p in traced:
        if p.errors or any(o["error"] for o in p.ops):
            continue
        sid = p.out["span"]
        m = {
            "spark.jobs": len(tree.jobs(sid)),
            "spark.tasks": tree.stage_sum(sid, "tasks"),
            "spark.exec_cpu_s": tree.stage_sum(sid, "cpu_ns") / 1e9,
            "spark.gc_s": tree.stage_sum(sid, "gc_ms") / 1e3,
            "spark.shuffle_bytes": tree.stage_sum(sid, "shuffle_write"),
            "spark.spill_bytes": tree.stage_sum(sid, "spill_disk"),
            "spark.cached_bytes_after": p.cached_after,
            "trace.spans": len(tree.subtree(sid)),
        }
        m.update(w.layers(ctx, tree, p))
        rows.append(m)
    values = {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
    }
    if traced and untraced:
        values["trace.overhead_s"] = (common.median([p.wall_s for p in traced])
                                      - common.median([p.wall_s for p in untraced]))
    for key in {k for r in rows for k in r}:
        values[key] = common.median([r[key] for r in rows if key in r])
    not_measured = [m["name"] for m in spec["per_layer"] if m["name"] not in values]
    out_dir = os.path.join(BENCH_DIR, "_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed,
            "not_exercised_here": not_measured,
            "spans": [
                {**s, "self_s": tree.self_time(s["id"]), "driver_gap_s": tree.driver_gap(s["id"]),
                 "jobs": tree.attr[s["id"]]["jobs"]}
                for s in tracer.spans
            ],
        }, f)
    selfs: dict[str, float] = {}
    for s in tracer.spans:
        selfs[s["name"]] = selfs.get(s["name"], 0.0) + tree.self_time(s["id"])
    top = sorted(selfs.items(), key=lambda kv: -kv[1])[:8]
    print(f"[{args.workload}] trace: {len(tracer.spans)} spans in {len(traced)} traced "
          f"passes -> {os.path.relpath(path, ROOT)}", flush=True)
    print(f"[{args.workload}] top self time: "
          + ", ".join(f"{n} {v:.3f}s" for n, v in top), flush=True)
    _say(args.workload, "trace.overhead_s", values.get("trace.overhead_s", 0.0), "s",
         "median traced pass minus median untraced pass")
    if not_measured:
        print(f"[{args.workload}] layers not exercised by this workload (reported as 0): "
              + ", ".join(not_measured), flush=True)
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]}


def run_all(args, spec) -> int:
    """Every workload of BENCHMARK.json, each in its own process. Exits
    non-zero if any workload's result is not correct."""
    failed = attempted = 0
    all_correct = True
    for wl in spec["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--inject-fault"] if args.inject_fault else [])
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            if line.startswith("["):
                print(line)
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"[{wl['name']}] no result (exit {proc.returncode}): "
                  f"{proc.stderr.strip()[-500:]}")
            return 1
        all_correct = all_correct and res["correct"]
        attempted += res["attempted"]
        failed += res["failed"]
        print(f"[{wl['name']}] correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}")
    print(f"[all] failed_op_share = {failed / max(attempted, 1):.4f} ratio "
          f"({failed} of {attempted} operations)")
    return 0 if all_correct else 1


def main(argv=None) -> int:
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # work directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = _args(argv)
    for need in ("BENCHMARK.json", "__spark_entry__.py", os.path.join("qsvspark", "__init__.py")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a qsvspark checkout",
                  file=sys.stderr)
            return 2
    spec = _spec()
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    if args.workload == "all":
        return run_all(args, spec)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload '{args.workload}'", file=sys.stderr)
        return 2
    result = run_one(args, spec)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
