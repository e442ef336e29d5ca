"""Seeded, cached inputs for the benchmark workloads.

Every workload starts from ``fixtures.gen_pages.gen_rows(n, seed)``, which
composes each page's html AND its golden main-content text independently
of the engine. ``curate_minhash`` keeps the small pages of the families
whose every page passes curate's default quality gate (``clean``,
``entities``, ``implied``: at least 10 tokens, distinct lines; the other
families are dropped by that gate, so they would only shrink the set that
reaches the dedup) and plants on top:

- exact clusters: byte-identical copies of a source page under new urls,
  with heavy-tailed (1/k) sizes; the largest holds >= 1 % of the corpus;
- near clusters: copies of a ``clean`` article, lengthened to ~280 words,
  with one extra two-word paragraph each; the golden text is the source
  text plus that line (word-3-shingle Jaccard ~0.99 with the source);
- re-crawls: an older capture of a ``clean`` article under the same url,
  built the same way as a near copy.

So the curated output is known by construction: every url outside the
clusters, at its latest capture, plus exactly one member per cluster.

Generated tables are cached under ``perfbench/.cache/inputs``. The cache
key holds GEN_VERSION and the fixture generator's FIXTURE_VERSION, so a
change to either regenerates instead of reusing a stale table.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from fixtures.gen_pages import EPOCH_US, FIXTURE_VERSION, WORDS, gen_rows

GEN_VERSION = "3"
N_SHARDS = 16
MAX_CACHED = 12  # input sets kept per cache dir; oldest evicted first
BLOB_BYTES = 256 << 10  # a "blob" is a page over 256 KiB
CURATE_FAMILIES = ("clean", "entities", "implied")
# a near-cluster source is a clean article lengthened by this many
# 12-word paragraphs (~280 word 3-shingles), so that a copy with two more
# words has Jaccard ~0.99 and MinHash (16 permutations, 4 bands) misses its
# pair with the source about once in 10^6
NEAR_EXTRA_PARAGRAPHS = 20

PAGE_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("lang", pa.string()),
    ]
)
# golden: expected text per (url, warc_ts); cluster / near = planted exact /
# near cluster id, source included (-1 when the row is in none)
GOLDEN_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("text", pa.string()),
        ("cluster", pa.int32()),
        ("near", pa.int32()),
    ]
)


class Inputs:
    """Paths of one generated input set plus its golden table in memory."""

    def __init__(self, root: str, gen_s: float, cached: bool):
        self.pages = os.path.join(root, "pages")
        self.golden_path = os.path.join(root, "golden.parquet")
        self.gen_s = gen_s
        self.cached = cached
        self.golden = pq.read_table(self.golden_path)

    @property
    def n_docs(self) -> int:
        return self.golden.num_rows

    def table_bytes(self) -> int:
        return dir_bytes(self.pages)

    def read_pages(self) -> pa.Table:
        return pq.read_table(self.pages, schema=PAGE_SCHEMA)


def dir_bytes(path: str) -> int:
    """On-disk bytes of the parquet files under ``path``."""
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(base, f))
    return total


def _crawl_rows(n: int, seed: int) -> list[dict]:
    cols = gen_rows(n, seed)
    return [
        {
            "url": cols["url"][i],
            "warc_ts": cols["warc_ts"][i],
            "html": cols["html"][i],
            "lang": cols["lang"][i],
            "text": cols["text"][i],
            "cluster": -1,
            "near": -1,
        }
        for i in range(len(cols["url"]))
    ]


def _family(row: dict) -> str:
    return row["url"].split("/")[3]


def _add_paragraph(row: dict, words: str, **changes) -> dict:
    """``row`` (a ``clean`` article) with one more closing paragraph."""
    html = row["html"].decode("utf-8")
    return dict(
        row,
        html=html.replace("</article>", f"<p>{words}</p></article>", 1).encode("utf-8"),
        text=row["text"] + "\n" + words,
        **changes,
    )


def _curate_rows(n: int, seed: int) -> list[dict]:
    """Small pages of CURATE_FAMILIES, plus planted exact and near duplicate
    clusters and re-crawls. ``n`` is the size of the generated crawl; the
    plants come on top."""
    rows = [
        r
        for r in _crawl_rows(n, seed)
        if len(r["html"]) <= BLOB_BYTES and _family(r) in CURATE_FAMILIES
    ]
    rng = random.Random(seed * 7919 + 1)
    ts = EPOCH_US + 50_000_000 * 1_000_000
    free = list(range(len(rows)))  # rows not yet used as a source
    rng.shuffle(free)
    planted: list[dict] = []
    # exact clusters, 1/k sizes: the largest is 2 % of the base
    largest = max(4, len(rows) // 50)
    for cid in range(16):
        base = rows[free.pop()]
        base["cluster"] = cid
        for j in range(max(2, largest // (cid + 1)) - 1):
            ts += 1_000_000
            planted.append(
                dict(
                    base,
                    url=f"https://mirror{j % 5}.example.net/dup/{cid}/{j}",
                    warc_ts=ts,
                )
            )
    clean = [i for i in free if _family(rows[i]) == "clean"]
    near_sources = clean[:8]
    free = [i for i in free if i not in near_sources]
    for nid, src in enumerate(near_sources):
        for _ in range(NEAR_EXTRA_PARAGRAPHS):
            rows[src] = _add_paragraph(
                rows[src], " ".join(rng.choice(WORDS) for _ in range(12)) + "."
            )
        base = rows[src]
        base["near"] = nid
        extras = set()
        while len(extras) < 1 + largest // (2 * (nid + 1)):
            extras.add(" ".join(rng.choice(WORDS) for _ in range(2)) + ".")
        for j, extra in enumerate(sorted(extras)):
            ts += 1_000_000
            planted.append(
                _add_paragraph(
                    base, extra, url=f"https://copies.example.org/near/{nid}/{j}", warc_ts=ts
                )
            )
    # re-crawls: 1 % of the base gets an older capture of its url
    older = [i for i in free if _family(rows[i]) == "clean"]
    for src in older[: max(1, len(rows) // 100)]:
        base = rows[src]
        extra = " ".join(rng.choice(WORDS) for _ in range(3)) + "."
        planted.append(_add_paragraph(base, extra, warc_ts=base["warc_ts"] - 500_000))
    rows.extend(planted)
    rng.shuffle(rows)  # copies land in every scan split, not in the tail
    return rows


_BUILDERS = {"crawl": _crawl_rows, "curate": _curate_rows}


def _write(rows: list[dict], root: str) -> None:
    pages = pa.table(
        {f.name: pa.array([r[f.name] for r in rows], f.type) for f in PAGE_SCHEMA},
        schema=PAGE_SCHEMA,
    )
    os.makedirs(os.path.join(root, "pages"))
    per = (pages.num_rows + N_SHARDS - 1) // N_SHARDS
    for s in range(N_SHARDS):
        shard = pages.slice(s * per, per)
        if shard.num_rows:
            pq.write_table(
                shard,
                os.path.join(root, "pages", f"part-{s:05d}.parquet"),
                compression="zstd",
                row_group_size=512,
            )
    golden = pa.table(
        {f.name: pa.array([r[f.name] for r in rows], f.type) for f in GOLDEN_SCHEMA},
        schema=GOLDEN_SCHEMA,
    )
    pq.write_table(golden, os.path.join(root, "golden.parquet"))


def _evict(cache: str) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(cache, e)), e)
        for e in os.listdir(cache)
        if not e.endswith(".tmp")
    )
    for _, e in entries[: max(0, len(entries) - MAX_CACHED)]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)


def ensure_inputs(cache: str, kind: str, n: int, seed: int) -> Inputs:
    """Generate (or reuse) the ``kind`` input set of base size ``n`` for
    ``seed``; return it with the generation time (0 when cached)."""
    key = f"{kind}-n{n}-s{seed}-g{GEN_VERSION}-f{FIXTURE_VERSION}"
    root = os.path.join(cache, key)
    if os.path.exists(os.path.join(root, "_DONE")):
        os.utime(root)
        return Inputs(root, 0.0, True)
    os.makedirs(cache, exist_ok=True)
    t0 = time.perf_counter()
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _write(_BUILDERS[kind](n, seed), tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    _evict(cache)
    return Inputs(root, time.perf_counter() - t0, False)
