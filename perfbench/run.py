"""Link-graph benchmark: run one workload at one seed and print its metrics.

    python3 perfbench/run.py --workload crawl_pipeline --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. Set-up starts a Spark session on
``local[<cores>]``, writes the seeded input to parquet and loads it; the
timed body then repeats the workload until ``--seconds`` of body time have
passed (at least once). Every rep's outputs are checked against the
oracles outside the timed region. The last stdout line is one JSON
object: ``correct``, ``attempted`` and ``failed`` count timed calls, and
``metrics`` holds the end-to-end metrics (``--trace 0``) or the per-layer
metrics of a traced run (``--trace 1``). Scratch data lives under
``.perfbench_work/`` in the checkout and is removed at exit; the span log
of each run is kept there as ``traces/<workload>-seed<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("crawl_pipeline", "rmat_analytics")


def _seed(text: str) -> int:
    seed = int(text)
    if seed < 0:
        raise argparse.ArgumentTypeError("the seed must be >= 0")
    return seed


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=_seed, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: Path) -> None:
    """Make the run independent of the caller's environment: Python
    workers import the checkout, and scratch files stay inside it."""
    for d in ("spark-local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # the script's own directory would shadow top-level modules
    sys.path[:] = [p for p in sys.path if Path(p or ".").resolve() != ROOT / "perfbench"]
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR on next use


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: Path) -> dict:
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    from credigraph_spark.session import get_spark

    spark = get_spark(
        f"perfbench-{args.workload}", master=f"local[{cores}]",
        extra={"spark.ui.showConsoleProgress": "false",
               "spark.sql.warehouse.dir": str(work / "warehouse"),
               "spark.driver.extraJavaOptions":
                   f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"})
    session_start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        return measure(spark, args, work, cores, session_start_s)
    finally:
        stop_spark(spark)


def measure(spark, args, work: Path, cores: int, session_start_s: float) -> dict:
    from perfbench import inputs
    from perfbench.metrics import END_TO_END, PER_LAYER, UNITS, layer_metrics, median_by_key
    from perfbench.spans import Recorder
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    # the rest of set-up: input generation, parquet write, first load
    t = time.perf_counter()
    table = wl.generate(args.seed)
    input_path = str(work / "input.parquet")
    table.to_parquet(input_path, index=False)
    spark.read.parquet(input_path).count()
    setup_s = session_start_s + time.perf_counter() - t
    fp = inputs.fingerprint(table)
    print(json.dumps({"workload": wl.name, "seed": args.seed, "input": fp}), flush=True)
    t = time.perf_counter()
    expected = wl.expect(args.seed, table)
    log(f"session {session_start_s:.2f}s, set-up {setup_s:.2f}s, oracles "
        f"{time.perf_counter() - t:.2f}s")

    rec = Recorder(spark, traced=bool(args.trace))
    reps: list[dict] = []
    attempted = failed = 0
    body_s = 0.0
    while not reps or body_s < args.seconds:
        rec.rep = len(reps)
        out = str(work / f"rep{rec.rep}")
        outputs: dict = {}
        t = time.perf_counter()
        try:
            wl.body(spark, rec, input_path, out, expected, outputs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t
        body_s += wall
        t = time.perf_counter()
        try:
            results = wl.check(spark, rec, input_path, table, out, expected, outputs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            results = {call: ["the output check raised"] for call in wl.calls}
        log(f"rep {rec.rep}: body {wall:.2f}s, checks {time.perf_counter() - t:.2f}s")
        for call in wl.calls:
            attempted += 1
            if results[call]:
                failed += 1
                log(f"FAILED {call}: {results[call]}")
        spans = [sp for sp in rec.spans if sp.rep == rec.rep]
        reps.append({"wall_s": wall, **layer_metrics(spans, cores)})
        shutil.rmtree(out, ignore_errors=True)

    traces = ROOT / ".perfbench_work" / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    rec.write(str(traces / f"{wl.name}-seed{args.seed}.jsonl"))

    med = median_by_key(reps)
    if args.trace:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        med["session.start_s"] = session_start_s
        med["peak_rss_mb"] = (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) * 1024 / 1e6
        med["trace.wall_s"] = med["wall_s"]
        med["trace.overhead_s"] = rec.overhead_s / len(reps)
        names = [n for n, _, _ in PER_LAYER]
    else:
        med["setup_s"] = setup_s
        names = [n for n, _, _ in END_TO_END]
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": med[n], "unit": UNITS[n]} for n in names}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "credigraph_spark" / "__init__.py").is_file():
        log(f"no credigraph_spark package under {ROOT}; run from a source checkout")
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    prepare_environment(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
