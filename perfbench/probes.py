"""Per-layer probes, run on a workload's own inputs in the traced run.

- ``engine_probe`` calls ``htmld_spark.engine`` in-process, one document
  at a time: ``to_utf8`` -> ``parse_document`` -> ``main_text`` ->
  ``element_span_columns``, with a span around every call.
- ``udfs_probe`` feeds the callable from ``functions.udfs.make_extract_fn``
  pyarrow RecordBatches of Spark's 512-row batch size. The engine functions
  it calls are wrapped (from outside, in the udfs module namespace) so that
  their spans are the callable's children and its self time is a number.
- ``dedup_probe`` runs ``minhash_band_keys``, ``minhash_lsh_pairs`` and
  ``near_dedup_keep`` on the workload's golden text (its first
  DEDUP_PROBE_DOCS rows: all of ``curate_minhash``, a sample of the crawl
  workloads, which do not dedup).
"""

from __future__ import annotations

import time

from perfbench.inputs import BLOB_BYTES

ENGINE_CALLS = ("to_utf8", "parse_document", "main_text", "element_span_columns")
ENGINE_METRIC = {
    "to_utf8": "engine.to_utf8_s",
    "parse_document": "engine.parse_s",
    "main_text": "engine.main_text_s",
    "element_span_columns": "engine.spans_s",
}
ARROW_BATCH_ROWS = 512  # spark.sql.execution.arrow.maxRecordsPerBatch in get_spark
DEDUP_PROBE_DOCS = 2000


def _page_batches(pages):
    return pages.select(["url", "warc_ts", "html", "lang"]).to_batches(
        max_chunksize=ARROW_BATCH_ROWS
    )


def engine_probe(tracer, pages, with_spans: bool) -> dict:
    from htmld_spark.engine import dom, encoding, extract
    from htmld_spark.engine.native import get_native

    to_utf8 = tracer.wrap("to_utf8", encoding.to_utf8)
    parse = tracer.wrap("parse_document", dom.parse_document)
    main_text = tracer.wrap("main_text", extract.main_text)
    spans = tracer.wrap("element_span_columns", extract.element_span_columns)
    total = blob = 0.0
    with tracer.span("probe.engine"):
        for raw in pages.column("html").to_pylist():
            cols: tuple[list, ...] = ([], [], [], [], [], [], [])
            t0 = time.perf_counter()
            doc = parse(to_utf8(raw)[0])
            main_text(doc)
            if with_spans:
                spans(doc, cols)
            dt = time.perf_counter() - t0
            total += dt
            if len(raw) > BLOB_BYTES:
                blob += dt
    out = {
        ENGINE_METRIC[c]: (tracer.total(c, "probe.engine"), "s") for c in ENGINE_CALLS
    }
    busy = sum(v for v, _ in out.values())
    out["engine.docs_per_s"] = (pages.num_rows / busy, "1/s")
    out["engine.blob_time_share"] = (blob / total, "ratio")
    out["engine.native"] = (1 if get_native() is not None else 0, "bool")
    return out


def udfs_probe(tracer, pages, with_spans: bool) -> dict:
    from htmld_spark.functions import udfs

    saved = {c: getattr(udfs, c) for c in ENGINE_CALLS}
    try:
        for c in ENGINE_CALLS:
            setattr(udfs, c, tracer.wrap(c, saved[c]))
        batches = _page_batches(pages)
        it = udfs.make_extract_fn(with_spans=with_spans)(iter(batches))
        slices = out_bytes = 0
        while True:
            with tracer.span("udfs.extract_batches"):
                out = next(it, None)
            if out is None:
                break
            slices += 1
            out_bytes += out.nbytes
    finally:
        for c, fn in saved.items():
            setattr(udfs, c, fn)
    wall = tracer.total("udfs.extract_batches")
    child = sum(tracer.total(c, "udfs.extract_batches") for c in ENGINE_CALLS)
    return {
        "udfs.self_s": (wall - child, "s"),
        "udfs.batches": (len(batches), "count"),
        "udfs.slices": (slices, "count"),
        "udfs.out_bytes_per_doc": (out_bytes / pages.num_rows, "B"),
    }


def dedup_probe(tracer, spark, golden_path: str) -> dict:
    from pyspark.sql import functions as F

    from htmld_spark.functions.dedup import (
        minhash_band_keys,
        minhash_lsh_pairs,
        near_dedup_keep,
    )

    docs = (
        spark.read.parquet(golden_path)
        .limit(DEDUP_PROBE_DOCS)
        .select(F.xxhash64("url", "warc_ts").alias("doc_id"), "text")
        .localCheckpoint()
    )
    with tracer.span("dedup.minhash_band_keys"):
        sizes = (
            minhash_band_keys(docs, "doc_id", "text")
            .groupBy("band", "band_key")
            .count()
            .agg(
                F.max("count").alias("max_k"),
                F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs"),
            )
            .first()
        )
    t0 = time.perf_counter()
    with tracer.span("dedup.minhash_lsh_pairs"):
        pairs = minhash_lsh_pairs(docs, "doc_id", "text").localCheckpoint(eager=True)
    lsh_s = time.perf_counter() - t0
    verified = pairs.count()
    t0 = time.perf_counter()
    with tracer.span("dedup.near_dedup_keep"):
        near_dedup_keep(docs, pairs, "doc_id").count()
    keep_s = time.perf_counter() - t0
    candidates = int(sizes["pairs"])
    return {
        "dedup.max_band_bucket": (sizes["max_k"], "count"),
        "dedup.candidate_pairs": (candidates, "count"),
        "dedup.verified_pairs": (verified, "count"),
        "dedup.verify_yield": (verified / candidates if candidates else 0.0, "ratio"),
        "dedup.lsh_s": (lsh_s, "s"),
        "dedup.keep_s": (keep_s, "s"),
    }
