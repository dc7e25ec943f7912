#!/usr/bin/env python3
"""The repo benchmark: one closed-loop batch workload per run.

    python3 perfbench/run.py --workload extract_html --seed 1 --seconds 10 --trace 0

Builds its inputs from ``--seed``, starts Spark at ``local[nproc]`` with a
driver heap sized to the machine, runs one warm-up op (which, with
``build_session``, is the set-up time), then submits one op after another
for ``--seconds`` seconds and checks each against an oracle. ``--trace 1``
alternates untraced and traced ops (the difference is the tracing
overhead), then times each layer on its own and writes the spans to
``.perfbench/traces/``. The last line of stdout is the result JSON; the
line before it is a report with the input properties and host readings.
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
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
WORKLOAD_NAMES = ("extract_html", "extract_chat_ckpt", "curate_dedup")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def driver_memory_mb() -> int:
    """An eighth of the machine's RAM, between 1 and 4 GiB."""
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return max(1024, min(4096, int(line.split()[1]) // 1024 // 8))
    return 1024


def configure_env(workdir: Path, mem_mb: int) -> dict:
    """Keep every file Spark, the JVM and the Python workers write under
    ``workdir``; returns the extra Spark conf that does the same."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True)
    tempfile.tempdir = str(tmp)
    os.environ.update(
        {
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(workdir / "spark-local"),
            "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        }
    )
    return {
        "spark.driver.defaultJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": str(workdir / "spark-local"),
        "spark.sql.warehouse.dir": str(workdir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session (if one was built) and the JVM, and wait until
    the JVM and every Python worker it started have exited."""
    from pyspark import SparkContext

    from procmon import process_tree, wait_gone

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = process_tree(gateway.proc.pid)
    try:
        if spark is not None:
            spark.stop()
        gateway.shutdown()
    finally:
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        for pid in wait_gone(pids, timeout=30):
            os.kill(pid, signal.SIGKILL)
        wait_gone(pids, timeout=10)
        SparkContext._gateway = SparkContext._jvm = None


#: Seconds of untimed ops between set-up and the timed window: the JVM
#: is still compiling hot paths, and the first ops after the warm-up
#: run 20-40% slower than the ones a few seconds later.
PRIME_S = 8


def timed_ops(wl, spark, tracer, seconds: float, traced_every: int = 0):
    """Closed loop: the next op starts when the previous one returned,
    for ``seconds`` and at least ``wl.min_ops`` ops. With
    ``traced_every`` = 2, every second op runs traced."""
    times = {False: [], True: []}
    failed = 0
    i = 0
    t_begin = time.perf_counter()
    while i < wl.min_ops or time.perf_counter() - t_begin < seconds:
        traced = bool(traced_every) and i % traced_every == 1
        tracer.enabled, tracer.op_id = traced, i
        t = time.perf_counter()
        try:
            with tracer.span("op"):
                got = wl.op(spark, tracer, i)
            dt = time.perf_counter() - t
            ok = wl.check(got)
        except Exception:  # noqa: BLE001 -- a raising op is a failed op
            dt = time.perf_counter() - t
            ok = False
            traceback.print_exc()
        tracer.enabled = False
        times[traced].append(dt)
        failed += not ok
        wl.cleanup(i)
        i += 1
    return times, i, failed


def run(args, workdir: Path, units: dict) -> tuple:
    from procmon import PeakRss, cpu_times, loadavg_1m, steal_share
    from spans import Tracer

    report = {"workload": args.workload, "seed": args.seed, "load_1m_start": loadavg_1m()}
    cpu_start = cpu_times()
    cores = len(os.sched_getaffinity(0))
    mem_mb = driver_memory_mb()
    conf = configure_env(workdir, mem_mb)

    t = time.perf_counter()
    from keras_ocr_spark.plans.session import build_session
    from workloads import WORKLOADS

    report["import_s"] = time.perf_counter() - t
    wl = WORKLOADS[args.workload]()
    t = time.perf_counter()
    inputs = wl.generate(args.seed, workdir / "in")
    report["gen_s"] = time.perf_counter() - t
    t = time.perf_counter()
    wl.prepare(inputs)
    report["oracle_s"] = time.perf_counter() - t
    report.update(cores=cores, driver_memory_mb=mem_mb, inputs=inputs.properties)

    tracer = Tracer()
    spark = None
    try:
        t = time.perf_counter()
        spark = build_session(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
        warm = wl.op(spark, tracer, "warmup")
        setup_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.bind(spark)
        checks_ok = wl.check(warm) and wl.full_check(spark)
        report["check_s"] = time.perf_counter() - t
        t, i = time.perf_counter(), 0
        while time.perf_counter() - t < PRIME_S:
            checks_ok &= wl.check(wl.op(spark, tracer, f"prime{i}"))
            wl.cleanup(f"prime{i}")
            i += 1
        report["prime_s"] = time.perf_counter() - t

        from pyspark import SparkContext

        cpu0 = cpu_times()
        with PeakRss(SparkContext._gateway.proc.pid) as rss:
            times, attempted, failed = timed_ops(wl, spark, tracer, args.seconds, 2 if args.trace else 0)
        report["steal_share_timed"] = steal_share(cpu0, cpu_times())

        if args.trace:
            metrics = layer_metrics(spark, tracer, inputs, args.seed, cores, workdir)
            untraced, traced = statistics.median(times[False]), statistics.median(times[True])
            metrics["trace.overhead_s_per_op"] = traced - untraced
            metrics["trace.overhead_share"] = traced / untraced - 1
            report["self_times_s"] = {k: round(v["self_s"], 4) for k, v in tracer.self_times().items()}
            trace_file = WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
            tracer.dump(trace_file, {"report": report, "layers": metrics})
            report["trace_file"] = str(trace_file.relative_to(ROOT))
        else:
            op_s = statistics.median(times[False])
            metrics = {
                "turns_per_s": inputs.turns / op_s,
                "docs_per_s": inputs.docs / op_s,
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak / 2**20,
            }
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        report["teardown_s"] = time.perf_counter() - t

    report.update(
        setup_s=setup_s,
        op_s=[round(x, 4) for x in times[False]],
        op_s_traced=[round(x, 4) for x in times[True]],
        error_rate=failed / attempted,
        full_check=checks_ok,
        load_1m_end=loadavg_1m(),
        steal_share_run=steal_share(cpu_start, cpu_times()),
    )
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    result = {
        "correct": checks_ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return report, result


def layer_metrics(spark, tracer, inputs, seed: int, cores: int, workdir: Path) -> dict:
    """Every per-layer probe, traced. The curation probes of the extract
    workloads run on a 600-document table from the curate_dedup
    generator and the same seed."""
    import probes
    from inputs import curate_inputs

    tracer.enabled, tracer.op_id = True, "probes"
    layers = probes.core_probes(tracer, inputs.frame, seed)
    layers.update(probes.extract_probes(tracer, spark, inputs, layers["core.kernel_us_per_turn"], cores))
    layers.update(probes.checkpoint_probes(tracer, spark, inputs))
    docs_dir = inputs.docs_dir or curate_inputs(seed, workdir / "probe-docs", 600).docs_dir
    layers.update(probes.curate_probes(tracer, spark, docs_dir))
    tracer.enabled = False
    return layers


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "keras_ocr_spark" / "__init__.py").is_file():
        fail(f"no keras_ocr_spark package under {ROOT}; run from a checkout of the repository")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    sys.path.insert(0, str(ROOT))
    os.chdir(ROOT)

    workdir = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    workdir.mkdir(parents=True)
    try:
        report, result = run(args, workdir, units)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print("perfbench report " + json.dumps(report, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
