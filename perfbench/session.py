"""The benchmark's fixed Spark session and its measured set-up.

The session is always ``local[4]`` with ``spark.task.cpus=2`` (two
concurrent extraction tasks, each a JVM feeder thread plus a Python
worker), built through the program's own ``get_spark``. Driver memory
comes from ``SPARK_DRIVER_MEM`` so it fits the host.

Set-up is what a user pays before the first job: one ``get_spark()``,
which launches the JVM and creates the SparkContext, plus a warm-up
action that spawns the Python workers and loads the native engine in each
of them. ``setup_s`` is one such cold set-up, in a JVM of its own; the
workload runs on it. A cold set-up costs as much as two timed iterations,
so a run does only one: the median over runs steadies it.
"""

from __future__ import annotations

import time

MASTER = "local[4]"
TASK_CPUS = "2"
SLOTS = 2  # concurrent tasks: 4 cores / 2 cpus per task
DRIVER_MEM = "2g"


def _warm(batches):
    """Warm-up body run in every task: import the engine, load the native
    module, report whether it loaded and how long the load took."""
    import time as _time

    import pyarrow as pa

    t0 = _time.perf_counter()
    from htmld_spark.engine.native import get_native

    native = get_native() is not None
    load_s = _time.perf_counter() - t0
    for b in batches:
        yield pa.RecordBatch.from_pydict(
            {"native": [native] * b.num_rows, "load_s": [load_s] * b.num_rows}
        )


def warm_up(spark) -> tuple[bool, float]:
    """One task per slot; returns (all workers native, max load seconds)."""
    rows = (
        spark.range(4, numPartitions=4)
        .mapInArrow(_warm, "native boolean, load_s double")
        .collect()
    )
    return all(r["native"] for r in rows), max(r["load_s"] for r in rows)


def new_session(extra_conf: dict[str, str] | None = None):
    from htmld_spark.pipeline.session import get_spark

    conf = {"spark.task.cpus": TASK_CPUS}
    conf.update(extra_conf or {})
    return get_spark(master=MASTER, app_name="perfbench", extra_conf=conf)


def _timed_launches() -> list[float]:
    """Record the seconds of every JVM launch pyspark makes from now on,
    by wrapping the launcher ``SparkContext`` calls."""
    from pyspark.core import context

    launch = context.launch_gateway
    times: list[float] = []

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return launch(*args, **kwargs)
        finally:
            times.append(time.perf_counter() - t0)

    context.launch_gateway = timed
    return times


class Setup:
    """One cold set-up with ``conf`` in a fresh JVM; keeps the session open
    for the workload."""

    def __init__(self, tracer, conf: dict[str, str]):
        self.conf = conf
        launches = _timed_launches()
        with tracer.span("setup"):
            t0 = time.perf_counter()
            self.spark = new_session(conf)
            t1 = time.perf_counter()
            self.native, load_s = warm_up(self.spark)
            t2 = time.perf_counter()
        self.setup_s = t2 - t0
        print(
            f"session: {MASTER}, spark.task.cpus={TASK_CPUS}, driver memory "
            f"{DRIVER_MEM}, pyspark {self.spark.version}; set-up {self.setup_s:.2f} s "
            f"(JVM launch {sum(launches):.2f} s)",
            flush=True,
        )
        self.metrics = {
            "session.jvm_start_s": (sum(launches), "s"),
            "session.context_s": (t1 - t0 - sum(launches), "s"),
            "session.first_job_s": (t2 - t1, "s"),
            "session.native_load_s": (load_s, "s"),
        }

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit, so the
        next session launches a JVM of its own. Safe to call again."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def restart(self, extra_conf: dict[str, str]):
        """A fresh warmed-up session in the same JVM, ``extra_conf`` on top."""
        self.spark.stop()
        self.spark = new_session({**self.conf, **extra_conf})
        warm_up(self.spark)
        return self.spark
