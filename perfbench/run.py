#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload extract_north --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` and
cached under ``.bench_work/``; then one Spark session on
``local[<nproc>]`` runs the workload's operation in a closed loop (one
operation in flight) for ``--seconds`` seconds, checking every output.
The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans, runs the per-layer ledger and reports the per-layer metrics.
The line before the result holds the details: host shape, CPU control,
every operation's timings and any problems the checks found.  See
perfbench/README.md for the metrics and the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_OPS = 3
# the JVM heap; its RSS grows to the heap size, and the host is shared
HEAP = "2g"


def parse_args(argv):
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="input size override (documents); smoke tests")
    ap.add_argument("--corrupt-op", type=int, default=-1,
                    help="drop one output row of this timed operation, to "
                         "prove the checks catch it")
    ap.add_argument("--work", default=os.path.join(ROOT, ".bench_work"))
    return ap.parse_args(argv)


def prepare_env(work: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and let the pyspark workers import the package from the checkout."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local",
                                                "warehouse", "runs")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_WAREHOUSE_DIR"] = dirs["warehouse"]
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    return dirs


def session_factory(dirs):
    def start(cores: int):
        from ocr_spark import get_spark

        java = ("-XX:G1HeapRegionSize=32m -XX:-UsePerfData "
                f"-Djava.io.tmpdir={dirs['tmp']}")
        spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf={
            "spark.local.dir": dirs["spark-local"],
            "spark.driver.extraJavaOptions": java,
            "spark.ui.showConsoleProgress": "false",
        })
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    return start


def run_ops(ctx, wl, args) -> list[dict]:
    """The closed loop: operations back to back until ``--seconds`` have
    passed and at least ``MIN_OPS`` have run.  With tracing on, every
    other operation runs with the tracer off, for the overhead estimate."""
    ops = []
    deadline = time.perf_counter() + args.seconds
    k = 1
    traced = ctx.tracer.enabled
    while k <= MIN_OPS or time.perf_counter() < deadline:
        ctx.tracer.enabled = traced and k % 2 == 1
        ops.append(guarded(wl.op, ctx, k, k == args.corrupt_op))
        ops[-1]["traced"] = ctx.tracer.enabled
        k += 1
    ctx.tracer.enabled = traced
    return ops


def guarded(op, ctx, k, corrupt) -> dict:
    """An operation that raises is a failed operation, not a crash."""
    try:
        return op(ctx, k, corrupt)
    except Exception as e:  # noqa: BLE001 — the loop must keep running
        traceback.print_exc()
        return {"problems": [f"raised {type(e).__name__}: {e}"]}


def end_to_end(setup_s: float, ops: list[dict]) -> dict:
    from observe import median

    good = [o for o in ops if not o["problems"]]
    if not good:
        return {}
    docs = sum(o["docs"] for o in good)
    return {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (median([o["docs"] / o["wall_s"] for o in good]),
                       "docs/s"),
        "cpu_s_per_kdoc": (sum(o["cpu_s"] for o in good) / (docs / 1000),
                           "s/kdoc"),
        "peak_rss_mb": (max(o["peak_rss_mb"] for o in good), "MB"),
    }


PER_LAYER_UNITS = {
    "session.start_s": "s", "inputs.build_s": "s",
    "scan.s": "s", "scan.bytes": "B", "scan.time_ms": "ms",
    "extract.kernel_s": "s", "extract.word_index_s": "s",
    "extract.kernel_docs_per_s_1t": "docs/s", "extract.noop_s": "s",
    "bridge.bytes_to_py": "B", "bridge.bytes_from_py": "B",
    "bridge.python_ms": "ms",
    "write.s": "s", "write.bytes": "B", "write.files": "count",
    "tasks.count": "count", "tasks.max_over_median": "ratio",
    "tasks.failed": "count", "cores.busy_share": "ratio",
    "gc.share": "ratio", "scaling_eff_1_n": "ratio",
    "run_extraction.s": "s", "waves": "count", "commit_manifest.s": "s",
    "resume_noop_s": "s", "spark_jobs_per_wave": "count",
    "append_edits.s": "s", "read_documents_overlay.s": "s",
    "touched_buckets": "count", "edit.useful_ratio": "ratio",
    "edit_turnaround_s": "s",
    "codec.png.ms_per_mb": "ms/MB", "codec.jpeg.ms_per_mb": "ms/MB",
    "codec.gif.ms_per_mb": "ms/MB", "codec.bmp.ms_per_mb": "ms/MB",
    "media.real_decode_share": "ratio", "images_per_s": "1/s",
    "host.nproc": "count", "host.cpu_control_s": "s",
    "trace.overhead_share": "ratio",
}


def per_layer(ctx, wl, ops, start_session, fixed: dict) -> dict:
    """Every per-layer metric; operations the ledger runs are added to
    ``ops`` so that their checks count."""
    import workloads
    from observe import median

    on = [o["wall_s"] for o in ops if o.get("traced") and "wall_s" in o]
    off = [o["wall_s"] for o in ops if not o.get("traced") and "wall_s" in o]
    good = [o for o in ops if not o["problems"]]
    layers = workloads.ledger(ctx, wl, good, ops)
    layers["trace.overhead_share"] = (median(on) - median(off)) / median(off)
    one = workloads.single_core_docs_per_s(ctx, wl.docs, start_session)
    layers["scaling_eff_1_n"] = layers.pop("pass_docs_per_s") / (
        ctx.nproc * one)
    layers.update(fixed)
    return {k: (layers[k], u) for k, u in PER_LAYER_UNITS.items()}


def main(argv=None) -> int:
    if not (os.path.isdir(os.path.join(ROOT, "ocr_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from a checkout holding ocr_spark/ and "
              "__spark_entry__.py next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    dirs = prepare_env(args.work)

    import observe

    observe.become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        detail, result = measure(args, dirs)
    finally:
        # on every way out: the session, the JVM, the pools and anything
        # they left behind have ended before this process does, and
        # before the result is printed
        observe.release_resource_tracker()
        observe.reap_descendants()
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


def _exit_on_sigterm(signum, frame):
    # a second SIGTERM must not cut the teardown short
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    raise SystemExit(128 + signum)


def measure(args, dirs) -> tuple[dict, dict]:
    """Set up, run the closed loop and check; returns the detail line and
    the result line."""
    from concurrent.futures import ProcessPoolExecutor
    import multiprocessing as mp

    import observe
    import workloads

    host = observe.host_stamp()
    nproc = host["nproc"]
    control = observe.cpu_control(nproc)
    wl = workloads.WORKLOADS[args.workload](args.size)
    run_id = f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(dirs["runs"], run_id)
    pins_path = os.path.join(HERE, "pins.json")
    pins = {}
    if os.path.exists(pins_path):
        with open(pins_path) as f:
            pins = json.load(f)
    start_session = session_factory(dirs)

    checker = ProcessPoolExecutor(1, mp_context=mp.get_context("spawn"))
    ctx = None
    try:
        checker_pid = checker.submit(os.getpid).result()
        inp = wl.inputs(args.work, args.seed, checker)
        tracer = observe.Tracer(run_id, enabled=bool(args.trace))
        with tracer.span("setup"):
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = start_session(nproc)
            session_s = time.perf_counter() - t0
            ctx = workloads.Ctx(spark, tracer,
                                observe.ProcTree(exclude=(checker_pid,)),
                                checker, run_dir, nproc, args.seed, pins)
            with tracer.span("warmup"):
                warm = [guarded(wl.op, ctx, 0, False)
                        for _ in range(wl.warmup_ops)]
        setup_s = session_s + sum(o.get("op_s", 0.0) for o in warm)
        ops = run_ops(ctx, wl, args)
        if args.trace:
            metrics = per_layer(ctx, wl, ops, start_session, {
                "session.start_s": session_s,
                "inputs.build_s": inp.ref["build_s"],
                "host.nproc": nproc,
                "host.cpu_control_s": control,
            })
            tracer.dump(os.path.join(args.work, "traces", f"{run_id}.jsonl"))
        else:
            metrics = end_to_end(setup_s, ops)
    finally:
        try:
            if ctx is not None:
                ctx.spark.stop()
        finally:
            checker.shutdown()
            shutil.rmtree(run_dir, ignore_errors=True)

    all_ops = warm + ops
    failed = sum(1 for o in all_ops if o["problems"])
    detail = {
        "workload": args.workload, "seed": args.seed, "size": wl.size,
        "run_id": run_id, "host": host, "cpu_control_s": control,
        "setup": {"session_s": session_s,
                  "warmup_op_s": [o.get("op_s") for o in warm],
                  "setup_s": setup_s},
        "ops": [{k: o.get(k) for k in ("wall_s", "op_s", "docs", "cpu_s",
                                       "peak_rss_mb", "traced", "problems",
                                       "digests")} for o in all_ops],
        "pin_key": wl.pin_key(ctx),
    }
    if args.trace:
        detail["self_s"] = tracer.self_times()
    return detail, {
        "correct": failed == 0 and bool(metrics),
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
