"""Benchmark entry point.

    python3 perfbench/run.py --workload {extract,corpus} \
        --seed N --seconds S --trace {0,1}

Run from a full checkout. Inputs are generated from ``--seed`` into a work
directory under ``.perfbench/`` in the checkout (removed at exit), the
workload runs on ``local[<slots>]`` with shuffle partitions = slots (half
the host's cores, see ``measure.task_slots``), every
result is checked against the repo's oracles, and the last line of stdout is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``. Lines
before it are JSON detail records. The exit code is nonzero when a check
fails or the program sources are missing.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
passes with the Spark event log on, then again without it, and reports the
per-layer metrics (see perfbench/README.md).
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
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
EXTRA_SETUPS = 4  # session restarts after the passes; setup_s is the median of all setups
# timed passes at least; wall_s is their median, which steps over the first
# one (still a little slower than the rest) and a pass slowed from outside
MIN_PASSES = 4
# Most of a pass at these sizes is per-query JVM work (Catalyst planning,
# job scheduling, the stream's commit protocol) run a few hundred times at
# most, so with the default JIT thresholds passes kept getting faster for
# about 40 s (12 passes of `extract`) and a run's median fell wherever that
# descent stood. A tenth of the thresholds gets there in about a third of
# the passes (measured at local[4] on 4 vCPU: `extract` passes 2.7-2.9 s from
# the fourth one on, against 3.1-3.3 s after twelve by default).
JIT_OPTS = "-XX:CompileThresholdScaling=0.1"


def _start_session(work: Path, name: str, slots: int, traced: bool):
    from deepseek_ocr_spark.pipeline.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # keep the JVM's temp files inside the work directory and its perf
        # counters (otherwise a file under the system temp dir) off
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData {JIT_OPTS}",
    }
    # set both ways: a restarted session would otherwise inherit the JVM's
    # launch-time setting
    conf["spark.eventLog.enabled"] = "true" if traced else "false"
    if traced:
        (work / "eventlog").mkdir(exist_ok=True)
        conf["spark.eventLog.dir"] = (work / "eventlog").as_uri()
        conf["spark.eventLog.compress"] = "false"
    spark = build_session(
        app_name=f"perfbench-{name}",
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _setup(wl, work: Path, slots: int, traced: bool):
    """Session start plus input load; returns (spark, start_s, load_s)."""
    t0 = time.perf_counter()
    spark = _start_session(work, wl.name, slots, traced)
    t1 = time.perf_counter()
    wl.load(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def _warm_passes(wl, spark, prefix: str, seconds: float, count: int = MIN_PASSES):
    """Warm passes until ``seconds`` have elapsed and at least ``count``
    have run."""
    passes = []
    deadline = time.perf_counter() + seconds
    while len(passes) < count or time.perf_counter() < deadline:
        passes.append(wl.run_pass(spark, f"{prefix}{len(passes)}"))
    return passes


def _stop_jvm() -> None:
    """Stop the active session, then the JVM it launched, and wait for the
    JVM and its Python workers to end. Does nothing when no JVM runs."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.measure import descendants

    try:
        session = SparkSession.getActiveSession()
        if session is not None:
            session.stop()
    except Exception:  # a JVM already gone or interrupted mid-call: still end it below
        traceback.print_exc()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    kids = descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{pid}") for pid in kids) and time.monotonic() < deadline:
        time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: Path) -> tuple[dict, list[dict]]:
    from perfbench import measure, workloads

    cores = measure.host_cores()
    slots = measure.task_slots(cores)
    wl = workloads.WORKLOADS[args.workload]()
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "slots": slots,
        "load_before": list(os.getloadavg()),
    }
    phases = {}  # wall seconds of each step of the run, for the time budget
    clock = [time.perf_counter()]

    def lap(step: str) -> None:
        now = time.perf_counter()
        phases[step] = now - clock[0]
        clock[0] = now

    wl.prepare(args.seed, work, slots)
    lap("prepare")

    traced = bool(args.trace)
    setups = []
    with measure.PeakRss() as rss:
        spark, start_s, load_s = _setup(wl, work, slots, traced)
        setups.append((start_s, load_s))
        lap("setup")
        cold = wl.run_pass(spark, "cold", collect=True)
        lap("cold")
        warm = _warm_passes(wl, spark, "w", args.seconds)
        lap("timed")
        checked = [cold, *warm]
        if traced:
            # the same passes without the event log, after one warm-up, for
            # the tracing overhead
            spark.stop()
            spark, start_s, load_s = _setup(wl, work, slots, False)
            setups.append((start_s, load_s))
            again = _warm_passes(wl, spark, "u", 0, count=len(warm) + 1)
            checked += again
            untraced = again[1:]
        else:
            for _ in range(EXTRA_SETUPS):
                spark.stop()
                spark, start_s, load_s = _setup(wl, work, slots, False)
                setups.append((start_s, load_s))
        lap("more_setups")
        _stop_jvm()
        lap("stop")
    detail["load_after"] = list(os.getloadavg())

    serial_s = wl.oracle()
    attempted, failed = wl.check(checked)
    lap("oracle_check")
    items = wl.items()
    wall_s = measure.median([p.wall_s for p in warm])
    detail.update(
        {
            "attempted": attempted,
            "failed": failed,
            "fail_ratio": failed / attempted,
            "items": items,
            "item": wl.item,
            "setups_s": [round(a + b, 4) for a, b in setups],
            "cold_s": cold.wall_s,
            "warm_s": [p.wall_s for p in warm],
            "warm_n": len(warm),
            "oracle_serial_s": serial_s,
            "peak_rss_mb": rss.peak_mb,
            "phases_s": phases,
        }
    )
    end_to_end = {
        "setup_s": (measure.median([a + b for a, b in setups]), "s"),
        "wall_s": (wall_s, "s"),
        "items_per_s": (items / wall_s, "1/s"),
    }
    batches = [op.wall_s for p in warm for op in p.ops if op.name == "batch"]
    if batches:
        tail = measure.tail_percentile(batches)
        detail.update(
            {
                "batch_n": len(batches),
                "batch_p50_s": measure.median(batches),
                "batch_tail_pct": tail and tail[0],
                "batch_tail_s": tail and tail[1],
            }
        )
    detail["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    records = [detail, *_op_records(wl, warm)]
    if not traced:
        return _result(attempted, failed, end_to_end), records

    from perfbench import layers

    per_layer, layer_records = layers.report(
        wl,
        work / "eventlog",
        warm=warm,
        untraced=untraced,
        setups=setups,
        cold_s=cold.wall_s,
        serial_s=serial_s,
        slots=slots,
        peak_rss_mb=rss.peak_mb,
    )
    return _result(attempted, failed, per_layer), records + layer_records


def _op_records(wl, warm) -> list[dict]:
    """Median plan/exec time per operation name over the warm passes."""
    from perfbench.measure import median

    by_name: dict[str, list] = {}
    for p in warm:
        for op in p.ops:
            by_name.setdefault(op.name, []).append(op)
    return [
        {
            "op": name,
            "n": len(ops),
            "wall_s": median([o.wall_s for o in ops]),
            "plan_s": median([o.plan_s for o in ops]),
            "exec_s": median([o.exec_s for o in ops]),
        }
        for name, ops in by_name.items()
    ]


def _result(attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "deepseek_ocr_spark" / "__init__.py").is_file():
        print(f"perfbench: program sources not found under {ROOT}", file=sys.stderr)
        return 2
    # Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    # a terminated run still removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, records = run(args, work)
    finally:
        try:
            _stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for rec in records:
        print(json.dumps(rec))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
