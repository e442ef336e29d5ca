"""The three workloads: one timed call into a public entry point each, plus
the check of its committed output.

- ``crawl_extract``: a fresh ``run_extract_job`` over the Common-Crawl-style
  mix, spans on, every bucket in one round.
- ``crawl_resume``: the same job resumed after a simulated crash. The
  manifest holds half the buckets, the data directory also holds the
  crashed round's uncommitted bucket directories, and the rest of the
  buckets finish in several small rounds.
- ``curate_minhash``: ``curate(near_dedup="minhash")`` over small pages
  with planted duplicate clusters, written out as parquet.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.inputs import Inputs, dir_bytes

N_BUCKETS = 16
KEY = ("url", "warc_ts")


def _us(col) -> list[int]:
    """Timestamps of any unit as integer microseconds."""
    return pc.cast(pc.cast(col, pa.timestamp("us")), pa.int64()).to_pylist()


def _keys(table) -> list[tuple]:
    return list(zip(table.column("url").to_pylist(), _us(table.column("warc_ts"))))


_TICK = os.sysconf("SC_CLK_TCK")


def host_cpu() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the whole host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / _TICK, v[7] / _TICK


@dataclass(slots=True)
class Iteration:
    docs: int  # input docs the timed call processed
    wall_s: float
    out_bytes: int
    attempted: int  # documents checked
    failed: int
    cpu_s: float = 0.0  # host busy CPU seconds during the call
    steal_s: float = 0.0  # host CPU seconds stolen by other VMs


class Workload:
    name = ""
    kind = "crawl"  # input generator
    n = 0  # base docs generated
    with_spans = True
    # untimed iterations before timing: per-iteration time falls after
    # set-up while the JVM compiles the workload's paths; this many bring
    # it to within ~5 % of where it settles (measured per workload)
    warm_iterations = 2

    def __init__(self, inputs: Inputs, work_dir: str):
        self.inputs = inputs
        self.work_dir = work_dir
        self.warm: list[Iteration] = []  # checked like every iteration
        self.golden = dict(zip(_keys(inputs.golden), inputs.golden.column("text").to_pylist()))

    def prepare(self, spark, tracer) -> None:
        """Untimed one-time preparation."""

    def warm_up(self, spark, tracer) -> None:
        """Untimed, checked iterations, so the JVM has loaded and compiled
        the workload's code paths and the workers are up before timing."""
        for _ in range(self.warm_iterations):
            out = os.path.join(self.work_dir, f"warm-{len(self.warm)}")
            with tracer.span(f"{self.name}.warm"):
                self.warm.append(self.iteration(spark, out, tracer))
            shutil.rmtree(out)

    def before(self, out: str) -> None:
        """Untimed per-iteration preparation of a fresh output root."""

    def run(self, spark, out: str) -> int:
        """The timed call; returns the number of input docs it processed."""
        raise NotImplementedError

    def check(self, out: str) -> tuple[int, int]:
        """(attempted, failed) documents of the committed output."""
        raise NotImplementedError

    def output_bytes(self, out: str) -> int:
        return dir_bytes(out)

    def iteration(self, spark, out: str, tracer) -> Iteration:
        self.before(out)
        cpu0, steal0 = host_cpu()
        t0 = time.perf_counter()
        with tracer.span(f"{self.name}.run"):
            docs = self.run(spark, out)
        wall = time.perf_counter() - t0
        cpu1, steal1 = host_cpu()
        attempted, failed = self.check(out)
        return Iteration(
            docs, wall, self.output_bytes(out), attempted, failed,
            cpu1 - cpu0, steal1 - steal0,
        )

    def _check_crawl(self, data: str) -> tuple[int, int]:
        """One row per golden (url, warc_ts), parse_ok, byte-identical text."""
        out = pq.read_table(data, columns=["url", "warc_ts", "text", "parse_ok"])
        keys = _keys(out)
        seen = Counter(keys)
        bad = {k for k, c in seen.items() if c != 1 or k not in self.golden}
        for k, text, ok in zip(
            keys, out.column("text").to_pylist(), out.column("parse_ok").to_pylist()
        ):
            if not ok or self.golden.get(k) != text:
                bad.add(k)
        missing = len(self.golden.keys() - seen.keys())
        return len(self.golden), len(bad) + missing


class CrawlExtract(Workload):
    name = "crawl_extract"
    n = 30000

    def run(self, spark, out):
        from htmld_spark.pipeline.job import JobConfig, run_extract_job

        cfg = JobConfig(
            source=self.inputs.pages,
            output=out,
            n_buckets=N_BUCKETS,
            buckets_per_round=N_BUCKETS,
            with_spans=True,
        )
        run_extract_job(spark, cfg)
        return self.inputs.n_docs

    def check(self, out):
        return self._check_crawl(os.path.join(out, "data"))

    def output_bytes(self, out):
        return dir_bytes(os.path.join(out, "data"))


class CrawlResume(CrawlExtract):
    name = "crawl_resume"
    n = 2400
    done = N_BUCKETS // 2  # buckets committed before the crash
    crashed = 2  # buckets the crashed round wrote but never committed
    per_round = 3

    def prepare(self, spark, tracer):
        """A fresh full run is both the crash image's source and the
        reference the resumed output must equal."""
        from htmld_spark.pipeline.job import JobConfig, run_extract_job

        self.full = os.path.join(self.work_dir, "full")
        with tracer.span(f"{self.name}.full_run"):
            run_extract_job(
                spark,
                JobConfig(
                    source=self.inputs.pages,
                    output=self.full,
                    n_buckets=N_BUCKETS,
                    buckets_per_round=N_BUCKETS,
                ),
            )
        self.warm.append(
            Iteration(0, 0.0, 0, *self._check_crawl(os.path.join(self.full, "data")))
        )
        ref = pq.read_table(os.path.join(self.full, "data"))
        self.pending_docs = pc.sum(
            pc.greater_equal(ref.column("bucket"), self.done)
        ).as_py()
        self.reference = self._rows(ref)
        manifest = pq.read_table(os.path.join(self.full, "_manifest"))
        self.manifest = manifest.filter(pc.less(manifest.column("bucket"), self.done))

    @staticmethod
    def _rows(table) -> dict:
        """(url, warc_ts) -> every output column but the executor id."""
        cols = [
            c for c in table.column_names if c not in ("exec_partition_id", "bucket")
        ]
        vals = [table.column(c).to_pylist() for c in cols if c not in KEY]
        rows: dict = {}
        for k, row in zip(_keys(table), zip(*vals)):
            rows.setdefault(k, []).append(row)
        return rows

    def before(self, out):
        data = os.path.join(out, "data")
        os.makedirs(data)
        for b in range(self.done + self.crashed):
            src = os.path.join(self.full, "data", f"bucket={b}")
            if os.path.isdir(src):
                shutil.copytree(src, os.path.join(data, f"bucket={b}"))
        os.makedirs(os.path.join(out, "_manifest"))
        pq.write_table(self.manifest, os.path.join(out, "_manifest", "part-0.parquet"))

    def run(self, spark, out):
        from htmld_spark.pipeline.job import JobConfig, run_extract_job

        cfg = JobConfig(
            source=self.inputs.pages,
            output=out,
            n_buckets=N_BUCKETS,
            buckets_per_round=self.per_round,
            with_spans=True,
        )
        run_extract_job(spark, cfg, resume=True)
        return self.pending_docs

    def check(self, out):
        """Every bucket committed exactly once, and the output equal to the
        fresh full run row for row (on top of the golden-text check)."""
        attempted, failed = self._check_crawl(os.path.join(out, "data"))
        got = self._rows(pq.read_table(os.path.join(out, "data")))
        bad = {k for k in got.keys() | self.reference.keys() if got.get(k) != self.reference.get(k)}
        buckets = Counter(pq.read_table(os.path.join(out, "_manifest")).column("bucket").to_pylist())
        wrong = sum(1 for b in range(N_BUCKETS) if buckets.get(b) != 1)
        wrong += sum(1 for b in buckets if not 0 <= b < N_BUCKETS)
        return attempted, max(failed, len(bad)) + wrong


class CurateMinhash(Workload):
    name = "curate_minhash"
    kind = "curate"
    n = 3000  # generated crawl; about 900 pages of it pass into the input
    warm_iterations = 3

    def __init__(self, inputs, work_dir):
        super().__init__(inputs, work_dir)
        g = inputs.golden
        keys = _keys(g)
        self.latest: dict[str, int] = {}
        for url, ts in keys:
            self.latest[url] = max(ts, self.latest.get(url, ts))
        # planted cluster of every member, source included; exactly one
        # member of each is kept
        self.cluster = {}
        for k, c, near in zip(
            keys, g.column("cluster").to_pylist(), g.column("near").to_pylist()
        ):
            if c >= 0:
                self.cluster[k] = ("exact", c)
            elif near >= 0:
                self.cluster[k] = ("near", near)
        # every other url is kept, at its latest capture
        self.plain = {url for url, _ in keys} - {url for url, _ in self.cluster}
        self.expected = len(self.plain) + len(set(self.cluster.values()))
        self.kept_first: set | None = None

    def run(self, spark, out):
        from htmld_spark.pipeline.curate import curate

        pages = spark.read.parquet(self.inputs.pages)
        curate(pages, near_dedup="minhash").write.parquet(out)
        return self.inputs.n_docs

    def check(self, out):
        """The kept set known by construction: every url outside the
        planted clusters at its latest capture, exactly one member of each
        exact and each near cluster, golden text, the same set on every
        run. Counts kept rows that break a rule plus expected rows missing."""
        kept = pq.read_table(out, columns=["url", "warc_ts", "text"])
        keys = _keys(kept)
        bad = set()
        per_cluster: dict[tuple, list] = {c: [] for c in self.cluster.values()}
        for k, text in zip(keys, kept.column("text").to_pylist()):
            if self.golden.get(k) != text or self.latest.get(k[0]) != k[1]:
                bad.add(k)
            if k in self.cluster:
                per_cluster[self.cluster[k]].append(k)
        for members in per_cluster.values():
            bad.update(members[1:])
        dups = Counter(k[0] for k in keys)
        bad.update(k for k in keys if dups[k[0]] > 1)
        kept_set = set(keys)
        if self.kept_first is None:
            self.kept_first = kept_set
        bad.update(kept_set ^ self.kept_first)
        missing = len(self.plain - {url for url, _ in keys})
        missing += sum(1 for members in per_cluster.values() if not members)
        return max(self.expected, len(keys)), len(bad) + missing


WORKLOADS = {w.name: w for w in (CrawlExtract, CrawlResume, CurateMinhash)}
