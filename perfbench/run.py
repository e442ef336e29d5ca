"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the root of the repository. Untraced runs (``--trace 0``) print the
end-to-end metrics named in BENCHMARK.json; traced runs print the per-layer
ones. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the exit code is non-zero
when any document fails its check. Everything the run writes stays under
``perfbench/.cache`` (inputs, native build) and ``perfbench/.runs``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
RUNS = os.path.join(HERE, ".runs")
MIN_ITERATIONS = 1
# wall of one settled iteration, the same for every workload to within ~10 %
ITERATION_S = 6.0


def _environment(run_dir: str) -> None:
    """Pin the session and keep every file the run writes inside the
    checkout. Must happen before the JVM and the workers start: both
    inherit this environment."""
    from perfbench.session import DRIVER_MEM

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["XDG_CACHE_HOME"] = os.path.join(CACHE, "xdg")
    os.environ["TMPDIR"] = tmp


def _local_conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def timed_iterations(seconds: float) -> int:
    """How many calls to time for ``seconds``: a count fixed by the
    argument and the nominal iteration time, never by how fast this host
    happens to run."""
    return max(MIN_ITERATIONS, round(seconds / ITERATION_S))


def _measure(wl, spark, count, tracer, windows=None):
    """Time ``count`` calls of the workload, each into a fresh output root."""
    its = []
    while len(its) < count:
        out = os.path.join(wl.work_dir, f"out-{len(its)}")
        t0 = time.time()
        it = wl.iteration(spark, out, tracer)
        its.append(it)
        print(
            f"{wl.name} iteration {len(its)}: {it.docs} docs in {it.wall_s:.3f} s "
            f"({it.docs / it.wall_s:.1f} docs/s), {it.out_bytes} B out, "
            f"cpu {it.cpu_s:.2f} s, steal {it.steal_s:.2f} s, "
            f"{it.failed}/{it.attempted} failed",
            flush=True,
        )
        if windows is not None:
            windows.append((t0, time.time()))
        shutil.rmtree(out)
    return its


def _docs_per_s(its) -> float:
    return statistics.median(i.docs / i.wall_s for i in its)


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.workloads import WORKLOADS

    wl_cls = WORKLOADS[name]
    run_dir = os.path.join(RUNS, f"{name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _environment(run_dir)
    try:
        return _run(wl_cls, name, seed, seconds, trace, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(wl_cls, name, seed, seconds, trace, run_dir) -> dict:
    from htmld_spark.engine.native import get_native

    from perfbench.inputs import ensure_inputs
    from perfbench.session import Setup
    from perfbench.trace import Tracer, event_log_conf

    t0 = time.perf_counter()
    native = get_native() is not None  # builds the C engine once per cache
    print(f"native engine: {native} ({time.perf_counter() - t0:.2f} s)", flush=True)
    inputs = ensure_inputs(os.path.join(CACHE, "inputs"), wl_cls.kind, wl_cls.n, seed)
    print(
        f"inputs: {inputs.n_docs} docs, {inputs.table_bytes()} B on disk, "
        f"generated in {inputs.gen_s:.2f} s{' (cached)' if inputs.cached else ''}",
        flush=True,
    )
    tracer = Tracer(f"{name}-{seed}-{os.getpid()}", enabled=trace)
    conf = _local_conf(run_dir)
    if trace:
        # one set-up, under the event log: the traced run reports no setup_s
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update(event_log_conf(os.path.join(run_dir, "eventlog")))
    setup = Setup(tracer, conf)
    try:
        return _measure_workload(wl_cls, setup, inputs, seconds, tracer, run_dir)
    finally:
        setup.shutdown()


def _measure_workload(wl_cls, setup, inputs, seconds, tracer, run_dir) -> dict:
    wl = wl_cls(inputs, os.path.join(run_dir, "work"))
    wl.prepare(setup.spark, tracer)
    if tracer.enabled:
        return _traced(wl, setup, inputs, seconds, tracer, run_dir)
    wl.warm_up(setup.spark, tracer)
    its = _measure(wl, setup.spark, timed_iterations(seconds), tracer)
    setup.shutdown()
    metrics = {
        "docs_per_s": (_docs_per_s(its), "1/s"),
        "setup_s": (setup.setup_s, "s"),
        "output_bytes_per_doc": (
            statistics.median(i.out_bytes / i.docs for i in its),
            "B",
        ),
    }
    return _result(wl.warm + its, metrics)


def _traced(wl, setup, inputs, seconds, tracer, run_dir) -> dict:
    """Half the iterations under the event log the session was set up with,
    half in a new session without it, then the probes. Both halves run on
    one JVM after the same warm-up. The traced half runs on a JVM that has
    compiled less, the untraced half in a session with no job run yet, so
    ``trace.overhead`` is a rough figure with both biases in it."""
    from perfbench.probes import dedup_probe, engine_probe, udfs_probe
    from perfbench.session import SLOTS
    from perfbench.trace import Tracer, job_metrics

    log_dir = os.path.join(run_dir, "eventlog")
    spark = setup.spark
    wl.warm_up(spark, tracer)
    half = max(1, timed_iterations(seconds) // 2)
    windows: list = []
    traced = _measure(wl, spark, half, tracer, windows)
    # stopping the logged session completes its event log
    spark = setup.restart({"spark.eventLog.enabled": "false"})
    untraced = _measure(wl, spark, half, Tracer("", enabled=False))
    metrics = dict(setup.metrics)
    metrics["inputs.gen_s"] = (inputs.gen_s, "s")
    metrics.update(dedup_probe(tracer, spark, inputs.golden_path))
    setup.shutdown()
    pages = inputs.read_pages()
    metrics.update(engine_probe(tracer, pages, wl.with_spans))
    # the Spark workers reported their engine path at set-up
    metrics["engine.native"] = (metrics["engine.native"][0] * setup.native, "bool")
    metrics.update(udfs_probe(tracer, pages, wl.with_spans))
    metrics.update(
        job_metrics(
            log_dir,
            windows,
            inputs.pages,
            wl.work_dir,
            inputs.table_bytes(),
            inputs.n_docs,
            SLOTS,
        )
    )
    engine_s = sum(
        metrics[m][0]
        for m in ("engine.to_utf8_s", "engine.parse_s", "engine.main_text_s", "engine.spans_s")
    )
    metrics["job.extract.overhead_s"] = (
        metrics["job.extract.run_s"][0] - engine_s - metrics["udfs.self_s"][0],
        "s",
    )
    traced_dps, untraced_dps = _docs_per_s(traced), _docs_per_s(untraced)
    metrics["trace.docs_per_s"] = (traced_dps, "1/s")
    metrics["trace.overhead"] = (1 - traced_dps / untraced_dps, "ratio")
    keep = os.path.join(RUNS, f"last-trace-{wl.name}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    tracer.write(os.path.join(keep, "spans.jsonl"))
    shutil.copytree(log_dir, os.path.join(keep, "eventlog"))
    return _result(wl.warm + traced + untraced, metrics)


def _result(its, metrics) -> dict:
    attempted = sum(i.attempted for i in its)
    failed = sum(i.failed for i in its)
    print(f"failed_frac: {failed / attempted:.6f} ({failed}/{attempted} documents)")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _check_names(result: dict, trace: bool) -> None:
    """The metrics printed must be exactly those BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]
    }
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != declared:
        diff = sorted(set(got.items()) ^ set(declared.items()))
        raise SystemExit(f"metrics differ from BENCHMARK.json: {diff}")


def _run_all(args) -> int:
    """Every workload in its own process; one table of every metric."""
    from perfbench.workloads import WORKLOADS

    code = 0
    summary = {}
    for name in WORKLOADS:
        cmd = [
            sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            raise SystemExit(f"{name} failed with exit code {proc.returncode}")
        summary[name] = result
        code = code or proc.returncode
        for metric, v in result["metrics"].items():
            print(f"{name:16} {metric:34} {v['value']:>16.6g} {v['unit']}")
        print(f"{name:16} {'failed_frac':34} {result['failed'] / result['attempted']:>16.6g} ratio")
    print(json.dumps(summary))
    return code


def main() -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return _run_all(args)
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    _check_names(result, bool(args.trace))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
