"""Steady-state benchmark of the validation engine.

    python3 perfbench/run.py --workload suite_audio --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one Spark session built by
``session.get_spark`` with its defaults on ``local[<cores>]``, as
``jobs/validate.py`` builds it. Protocol:

1. set-up: session start, then the workload's inputs generated and written
   three times (the median counts), then any prior state;
2. op 0 in the fresh session: reported as ``cold_op_s``;
3. the workload's untimed warm-up ops, then timed ops until their summed
   wall time reaches ``--seconds``, and at least two. Before every op after op 0 the
   Python driver process and the JVM collect garbage, so each op starts
   from a collected heap; ``peak_rss_mib`` is the peak resident memory of
   the JVM and the Python processes over the timed ops.

Every op's output is verified outside the timed region; an op that raises
counts as failed and the run continues. The last stdout line is the result
JSON: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The full run record (every op's wall and CPU time, spans)
goes to ``.perfbench_work/records/``. See ``perfbench/METHOD.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
INPUT_REPS = 3
# two timed ops at least, so a slow host window still takes the median of
# the same ops, and a traced run has an untraced op to compare with
MIN_TIMED_OPS = 2

# G1 starts the heap at 1/64 of RAM and grows it when GC time is large
# against wall time, so in runs this short the heap's size, and with it each
# op's GC work, follows the host's speed: timed resume_ingest ops took 15-21
# cpu-s with the JVM at 3.6-4.2 GB resident and 21-28 cpu-s at 2.0-2.6 GB.
# Starting the heap near the size G1 usually reaches takes that choice out;
# the maximum stays the engine's ``spark.driver.memory``.
JVM_INITIAL_HEAP = "4g"

END_TO_END = {
    "setup_s": "s", "cold_op_s": "s", "op_s_p50": "s",
    "cpu_s_per_op": "cpu-s", "peak_rss_mib": "MiB", "ops_ok_frac": "ratio",
}


def _process_start_epoch() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    start the JVM's heap at ``JVM_INITIAL_HEAP``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{JVM_INITIAL_HEAP}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    # local[<cores this process may use>], as ``nproc`` counts them
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_proc = _process_start_epoch()
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    _isolate(work)

    from perfbench import harvest, layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](work, args.seed)
    tracer = Tracer()
    try:
        with harvest.RssPeak() as rss:
            record = _run(args, wl, tracer, t_proc, rss)
    finally:
        tracer.restore()
        _stop_spark()
        records = os.path.join(WORK_ROOT, "records")
        os.makedirs(records, exist_ok=True)
        shutil.rmtree(work, ignore_errors=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    metrics = (
        {k: {"value": v, "unit": layers.UNITS[k]} for k, v in record["per_layer"].items()}
        if args.trace
        else {k: {"value": record["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    )
    if args.trace:
        layers.print_spans(record["spans"], sys.stderr)
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


def _run(args, wl, tracer, t_proc: float, rss) -> dict:
    from perfbench import harvest, layers

    with tracer.span("session.start"):
        from audit_anomaly_detection_etl_spark.session import get_spark, ship_package

        spark = get_spark()
        ship_package(spark)
        spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t_proc

    input_s = []
    for r in range(INPUT_REPS):
        d = os.path.join(wl.work, f"input-{r}")
        t0 = time.perf_counter()
        wl.make_inputs(d, tracer)
        input_s.append(time.perf_counter() - t0)
    # ops read the last copy; the others only measured set-up
    for r in range(INPUT_REPS - 1):
        shutil.rmtree(os.path.join(wl.work, f"input-{r}"), ignore_errors=True)
    t0 = time.perf_counter()
    wl.prior_state(spark)
    prior_s = time.perf_counter() - t0
    setup_spans = tracer.totals()
    setup = {
        "session.start_s": session_s,
        "synth.generate_s": setup_spans.get("synth.generate", (0.0,))[0] / INPUT_REPS,
        "synth.write_s": setup_spans.get("synth.write", (0.0,))[0] / INPUT_REPS,
    }
    tracer.reset()

    split = harvest.CpuSplit()
    stores = harvest.SparkStores(spark) if args.trace else None

    ops: list[dict] = []
    timed_wall = 0.0

    def run_op(i: int, phase: str, traced: bool) -> None:
        nonlocal timed_wall
        rec = {"op": i, "phase": phase, "traced": traced, "ok": False}
        wl.before_op(i)
        if phase != "cold":
            gc.collect()
            spark._jvm.java.lang.System.gc()
        layers.set_enabled(tracer, wl, traced)
        tracer.reset()
        if stores:
            stores.begin(f"op-{i}")
        jvm0 = harvest.jvm_counters(spark) if args.trace else None
        c0 = split.sample()
        rss.begin()
        rss.measuring.set()
        t0 = time.perf_counter()
        out = None
        try:
            out = wl.op(spark, i)
        except Exception:  # noqa: BLE001 - a raised op is a failed op
            rec["error"] = traceback.format_exc(limit=5)
        rec["wall_s"] = time.perf_counter() - t0
        rss.measuring.clear()
        rss.sample()
        rec["peak_rss_mib"] = {"python": rss.py, "jvm": rss.jvm}
        c1 = split.sample()
        rec["cpu_s"] = c1["tree"] - c0["tree"]
        layers.set_enabled(tracer, wl, False)
        if args.trace:
            rec["layers"] = {
                **harvest.CpuSplit.delta(c0, c1),
                "proc.jvm_peak_rss_mib": rss.jvm,
                "proc.py_peak_rss_mib": rss.py,
                **{k: v - jvm0[k] for k, v in harvest.jvm_counters(spark).items()},
                **stores.harvest(f"op-{i}"),
                **layers.from_spans(tracer, out),
            }
            rec["spans"] = [
                (s.name, s.start, s.end, s.parent) for s in tracer.spans
            ]
        if out is not None:
            try:
                errors = wl.verify(spark, out)
            except Exception:  # noqa: BLE001 - a verifier crash fails the op
                errors = [traceback.format_exc(limit=5)]
            rec["ok"] = not errors
            if errors:
                rec["errors"] = errors[:10]
                print(f"op {i} failed verification: {errors[:3]}", file=sys.stderr)
        elif "error" in rec:
            print(f"op {i} raised: {rec['error']}", file=sys.stderr)
        if phase == "timed":
            timed_wall += rec["wall_s"]
        ops.append(rec)

    run_op(0, "cold", False)
    for i in range(1, 1 + wl.warmup_ops):
        run_op(i, "warmup", False)
    i, n_timed = 1 + wl.warmup_ops, 0
    while timed_wall < args.seconds or n_timed < MIN_TIMED_OPS:
        # traced runs alternate: untraced ops give the overhead baseline
        run_op(i, "timed", bool(args.trace) and n_timed % 2 == 1)
        i += 1
        n_timed += 1

    timed = [o for o in ops if o["phase"] == "timed" and o["ok"]]
    plain = [o for o in timed if not o["traced"]] or timed
    e2e = {
        "setup_s": session_s + statistics.median(input_s) + prior_s,
        "cold_op_s": ops[0]["wall_s"],
        "op_s_p50": statistics.median(o["wall_s"] for o in plain) if plain else 0.0,
        "cpu_s_per_op": statistics.median(o["cpu_s"] for o in plain) if plain else 0.0,
        "peak_rss_mib": max((sum(o["peak_rss_mib"].values()) for o in plain), default=0.0),
        "ops_ok_frac": sum(o["ok"] for o in ops) / len(ops),
    }
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "clips_per_op": wl.clips_per_op,
        "setup_parts_s": {"session": session_s, "inputs": input_s, "prior": prior_s},
        "attempted": len(ops), "failed": sum(not o["ok"] for o in ops),
        "end_to_end": e2e, "ops": ops,
    }
    if args.trace:
        traced = [o for o in timed if o["traced"]]
        record["per_layer"] = layers.per_layer(setup, traced, plain, wl)
        record["spans"] = traced[-1]["spans"] if traced else []
    return record


def _stop_spark() -> None:
    """Stop the session and wait for the JVM to exit: it exits when its
    stdin pipe closes, and its Python workers exit with it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


if __name__ == "__main__":
    sys.exit(main())
