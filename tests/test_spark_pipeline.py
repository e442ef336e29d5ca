"""Spark-layer tests: extraction UDF byte identity, job resume semantics,
selector UDF, driver entry smoke (SURVEY.md §5.2 layers 2–3)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from fixtures.gen_pages import ensure_pages
from htmld_spark.pipeline.job import JobConfig, run_extract_job
from htmld_spark.pipeline.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(master="local[4]", app_name="pytest_pipeline")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pages_path():
    return ensure_pages("0.001")


def test_extract_udf_byte_identity(spark, pages_path):
    from htmld_spark.functions.udfs import extract_df

    pages = spark.read.parquet(pages_path)
    out = extract_df(pages.select("url", "warc_ts", "html"), with_spans=False)
    golden = pages.select("url", "warc_ts", F.col("text").alias("expected"))
    j = out.join(golden, ["url", "warc_ts"])
    assert j.count() == pages.count()
    assert j.filter(F.col("text") != F.col("expected")).count() == 0


def test_extract_udf_span_invariants(spark, pages_path):
    from htmld_spark.functions.udfs import extract_df

    pages = spark.read.parquet(pages_path).limit(200)
    out = extract_df(pages.select("url", "warc_ts", "html"), with_spans=True)
    ex = out.select("url", "warc_ts", F.explode("spans").alias("s"), "n_spans")
    bad = ex.filter(
        (F.col("s.start") < 0)
        | (F.col("s.end") < F.col("s.start"))
        | (F.col("s.text_end") < F.col("s.text_start"))
    )
    assert bad.count() == 0
    # node_id strictly increasing within each doc
    from pyspark.sql.window import Window

    # duplicate urls exist by design (re-crawls) → partition by (url, warc_ts)
    w = Window.partitionBy("url", "warc_ts").orderBy("s.node_id")
    dup = (
        ex.withColumn("prev", F.lag("s.node_id").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("s.node_id") <= F.col("prev")))
    )
    assert dup.count() == 0


def test_select_count_udf(spark):
    from htmld_spark.functions.udfs import select_count_df

    df = spark.createDataFrame(
        [
            ("u1", b"<main><p>a</p><p>b</p></main>"),
            ("u2", b"<div><p>only</p></div>"),
        ],
        "url string, html binary",
    )
    out = select_count_df(df, ["main p", "p"]).orderBy("url").collect()
    assert [(r.url, r.c0, r.c1) for r in out] == [("u1", 2, 2), ("u2", 0, 1)]


def test_job_resume_after_partial_run(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job_out"))
    shutil.rmtree(out, ignore_errors=True)
    cfg = JobConfig(
        source=pages_path, output=out, n_buckets=8, buckets_per_round=2,
        with_spans=False,
    )
    # full run = 4 rounds
    stats = run_extract_job(spark, cfg)
    assert stats["rounds"] == 4 and stats["errors"] == 0
    total = stats["rows_written"]

    # simulate a crash after round 1: drop manifest rows for 6 buckets
    m = spark.read.parquet(cfg.manifest_path)
    kept = m.filter(F.col("bucket") < 2)
    tmp_manifest = out + "/_manifest_tmp"
    kept.write.mode("overwrite").parquet(tmp_manifest)
    shutil.rmtree(cfg.manifest_path)
    os.rename(tmp_manifest, cfg.manifest_path)

    stats2 = run_extract_job(spark, cfg)
    assert stats2["done_at_start"] == 2
    assert stats2["rounds"] == 3  # 6 pending buckets / 2 per round

    # no duplicates, no loss after resume (dynamic overwrite idempotency)
    data = spark.read.parquet(out + "/data")
    assert data.count() == total
    assert data.select("url", "warc_ts").distinct().count() == total


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) == 5  # one per lang
    assert all(r.n_errors == 0 for r in rows)
    assert set(df.columns) == {
        "lang",
        "n_docs",
        "total_chars",
        "total_spans",
        "n_errors",
    }


def test_queries_oracle_keys_consistent():
    import __spark_entry__ as e

    qs = e.queries()
    extra = set(e.oracle_sql()) - set(qs)
    assert not extra, f"oracle entries without queries: {extra}"


def test_extraction_deterministic_across_runs(spark, pages_path):
    """SURVEY §5.2 layer 3: two runs → identical output hash."""
    from htmld_spark.functions.udfs import extract_df

    def run_hash():
        pages = spark.read.parquet(pages_path)
        out = extract_df(pages.select("url", "warc_ts", "html"), with_spans=True)
        return (
            out.select(
                F.md5(
                    F.concat_ws(
                        "\x00",
                        "url",
                        F.col("warc_ts").cast("string"),
                        "text",
                        F.col("n_spans").cast("string"),
                        F.hash("spans").cast("string"),
                    )
                ).alias("h")
            )
            .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s"))
            .collect()[0]["s"]
        )

    assert run_hash() == run_hash()


def test_select_extract_df(spark):
    """querySelectorAll→extract surfaced relationally (the reference's
    primary per-document workflow)."""
    from htmld_spark.functions.udfs import select_extract_df

    df = spark.createDataFrame(
        [
            ("u1", b"<main><h1>Title</h1><p>a</p><p>b</p></main>"),
            ("u2", b"<div><span class=x>only</span></div>"),
        ],
        "url string, html binary",
    )
    out = select_extract_df(df, ["main p", ".x", "h1"], with_html=True)
    rows = {(r.url, r.selector): r for r in out.collect()}
    assert len(rows) == 6  # 2 docs × 3 selectors
    assert rows[("u1", "main p")].texts == ["a", "b"]
    assert rows[("u1", "main p")].htmls == ["<p>a</p>", "<p>b</p>"]
    assert rows[("u1", "h1")].texts == ["Title"]
    assert rows[("u2", ".x")].texts == ["only"]
    assert rows[("u2", "main p")].n_matches == 0 and rows[("u2", "main p")].texts == []


def test_select_extract_max_matches(spark):
    from htmld_spark.functions.udfs import select_extract_df

    html = b"<ul>" + b"".join(b"<li>%d</li>" % i for i in range(50)) + b"</ul>"
    df = spark.createDataFrame([("u", html)], "url string, html binary")
    r = select_extract_df(df, ["li"], max_matches=5).collect()[0]
    assert r.n_matches == 5 and r.texts == ["0", "1", "2", "3", "4"]


def test_iceberg_gate_raises_without_jars(spark):
    """R1: the Iceberg source is capability-gated — offline sandbox must get
    a clear error, not a ClassNotFound blowup mid-job."""
    import pytest as _pytest

    from htmld_spark.pipeline.io import read_pages

    with _pytest.raises(RuntimeError, match="Iceberg runtime not on classpath"):
        read_pages(spark, "iceberg:warehouse.pages")


def test_byte_budget_slicing():
    """R4: oversized html rows are re-chunked by byte budget inside the UDF
    (pure function — no Spark needed)."""
    import pyarrow as pa

    from htmld_spark.functions.docmap import _slice_offsets

    small = [b"x" * 100] * 10
    big = [b"y" * 1000]
    col = pa.array(small + big + small, pa.binary())
    slices = _slice_offsets(col, byte_budget=500)
    # every slice under budget (except unavoidable single-row slices)
    assert slices[0] == (0, 5)
    total = sum(hi - lo for lo, hi in slices)
    assert total == len(col)
    for lo, hi in slices:
        size = sum(len(col[i].as_py()) for i in range(lo, hi))
        assert size <= 1000 or hi - lo == 1


def _page_batches(n_rows: int = 12, chunk: int = 5):
    import pyarrow as pa

    from fixtures.gen_pages import gen_rows

    cols = gen_rows(n_rows, seed=3)
    table = pa.table(
        {
            "url": pa.array(cols["url"], pa.string()),
            "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us", tz="UTC")),
            "html": pa.array(cols["html"], pa.binary()),
            "lang": pa.array(cols["lang"], pa.string()),
        }
    )
    return table.to_batches(max_chunksize=chunk)


@pytest.mark.parametrize("with_spans", [True, False])
def test_make_extract_fn_off_spark_contract(monkeypatch, with_spans):
    """The callable perfbench's udfs probe drives off Spark: pyarrow batches
    of (url, warc_ts, html, lang) in, RecordBatches with
    exec_partition_id -1 out, and the engine resolved through the udfs
    module globals at call time — one parse_document per row."""
    import pyarrow as pa

    from htmld_spark.functions import udfs

    calls = []
    real = udfs.parse_document

    def counting(data):
        calls.append(1)
        return real(data)

    monkeypatch.setattr(udfs, "parse_document", counting)
    batches = _page_batches()
    n = sum(b.num_rows for b in batches)
    out = list(udfs.make_extract_fn(with_spans=with_spans)(iter(batches)))
    assert out and all(isinstance(b, pa.RecordBatch) for b in out)
    table = pa.Table.from_batches(out)
    assert table.num_rows == n and len(calls) == n
    assert set(table.column("exec_partition_id").to_pylist()) == {-1}
    assert all(table.column("parse_ok").to_pylist())
    assert ("spans" in table.column_names) == with_spans
    src = pa.Table.from_batches(batches)
    for col in ("url", "warc_ts", "lang"):
        assert table.column(col).to_pylist() == src.column(col).to_pylist()


def test_driver_slicing_end_to_end():
    """The row-map driver at a small byte budget: one output batch per
    slice, and the concatenated rows equal the same batch run unsliced."""
    import pyarrow as pa

    from htmld_spark.functions.docmap import _slice_offsets, arrow_map

    blobs = [b"a" * 700, b"b" * 10, b"c" * 900, None, b"d" * 600, b"e" * 5]
    batch = pa.record_batch(
        {"id": pa.array(range(len(blobs)), pa.int64()),
         "blob": pa.array(blobs, pa.binary())}
    )

    def sizes(raws):
        return {"n_bytes": [len(r or b"") for r in raws]}

    def run(budget):
        fn = arrow_map(
            sizes, "id bigint, n_bytes bigint, exec_partition_id int",
            args=("blob",), keep=("id",), blob="blob", byte_budget=budget,
        )
        return list(fn(iter([batch])))

    sliced, whole = run(1000), run(1 << 20)
    assert len(whole) == 1
    assert len(sliced) == len(_slice_offsets(batch.column("blob"), 1000)) == 3
    assert pa.Table.from_batches(sliced).equals(pa.Table.from_batches(whole))
    assert whole[0].column("n_bytes").to_pylist() == [700, 10, 900, 0, 600, 5]


def test_driver_guard_fails_only_the_raising_row(monkeypatch):
    """A kernel whose output has parse_ok: a document whose engine call
    raises gets parse_ok=false and nulls (spans included), its slice-mates
    still extract, and the pass-through columns stay aligned."""
    import pyarrow as pa

    from htmld_spark.functions import udfs

    real = udfs.parse_document

    def poisoned(data):
        if b"POISON" in data:
            raise MemoryError("poison document")
        return real(data)

    monkeypatch.setattr(udfs, "parse_document", poisoned)
    batch = pa.record_batch(
        {
            "url": ["u0", "u1", "u2"],
            "html": [b"<p>a</p>", b"<p>POISON</p>", b"<p>c</p>"],
        }
    )
    (out,) = list(udfs.make_extract_fn(with_spans=True)(iter([batch])))
    got = out.to_pydict()
    assert got["url"] == ["u0", "u1", "u2"]
    assert got["text"] == ["a", None, "c"]
    assert got["parse_ok"] == [True, False, True]
    assert got["spans"][1] is None and got["spans"][0] and got["spans"][2]
    assert got["warc_ts"] == got["lang"] == [None] * 3


def test_extract_pdf_pages_df(spark):
    """The pages-shaped PDF operator: text equals extract_pdf_df's on the
    same bytes; warc_ts/lang pass through, or are null when absent."""
    import datetime as dt

    from fixtures.gen_pdfs import ensure_pdfs
    from htmld_spark.functions.udfs import extract_pdf_df, extract_pdf_pages_df

    pdfs = spark.read.parquet(ensure_pdfs()).select("pdf_id", "pdf").limit(40)
    url = F.concat(F.lit("https://p.example/"), F.col("pdf_id").cast("string"))
    expected = {
        f"https://p.example/{r.pdf_id}": (r.text, r.n_pages, r.parse_ok)
        for r in extract_pdf_df(pdfs).collect()
    }
    ts = dt.datetime(2024, 3, 1, 12, 0)
    bare = pdfs.select(url.alias("url"), "pdf")
    full = bare.withColumn("warc_ts", F.lit(ts)).withColumn("lang", F.lit("en"))
    for frame, want_ts, want_lang in ((bare, None, None), (full, ts, "en")):
        out = extract_pdf_pages_df(frame)
        assert out.columns == [
            "url", "warc_ts", "lang", "text", "n_bytes", "n_pages",
            "parse_ok", "exec_partition_id",
        ]
        rows = out.collect()
        assert len(rows) == len(expected)
        for r in rows:
            assert (r.text, r.n_pages, r.parse_ok) == expected[r.url]
            assert (r.warc_ts, r.lang) == (want_ts, want_lang)
            assert r.exec_partition_id >= 0


def test_job_with_enrichment(spark, pages_path, tmp_path_factory):
    """JobConfig(enrich=True): written output carries the one-pass
    training-data columns, and they agree with the standalone operator on
    the written text."""
    out = str(tmp_path_factory.mktemp("job_enriched"))
    cfg = JobConfig(
        source=pages_path, output=out, n_buckets=4, buckets_per_round=4,
        with_spans=False, enrich=True,
    )
    stats = run_extract_job(spark, cfg)
    assert stats["errors"] == 0
    data = spark.read.parquet(out + "/data")
    for col in ("pred_lang", "n_tokens", "quality_bucket", "winnow_fp"):
        assert col in data.columns
    from htmld_spark.functions.text import winnow_fingerprint

    sample = data.select("url", "text", "winnow_fp").limit(50)
    recomputed = winnow_fingerprint(
        sample.select("url", "text"), id_col="url"
    ).select("url", F.col("winnow_fp").alias("fp2"))
    joined = sample.join(recomputed, "url")
    assert joined.filter(F.col("winnow_fp") != F.col("fp2")).count() == 0


def test_job_pdf_source_format(spark, tmp_path_factory):
    """JobConfig(source_format='pdf'): the deployed job runs the PDF leg
    end to end — bucketed rounds, manifest lineage, resume semantics and
    text byte-identical to the engine — on a (url, warc_ts, pdf) table."""
    import datetime

    from fixtures.gen_pdfs import N_ROWS, draw_pdf_row
    from htmld_spark.engine.pdf import extract_pdf_text

    src = str(tmp_path_factory.mktemp("pdf_pages")) + "/pages.parquet"
    rows = [
        (
            f"https://pdf{i % 7}.example/d{i}",
            datetime.datetime(2024, 2, 1 + i % 25),
            draw_pdf_row(i)[1],
        )
        for i in range(N_ROWS)
    ]
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, pdf binary"
    ).write.parquet(src)
    out = str(tmp_path_factory.mktemp("pdf_job_out"))
    shutil.rmtree(out, ignore_errors=True)
    cfg = JobConfig(
        source=src, output=out, n_buckets=4, buckets_per_round=2,
        source_format="pdf",
    )
    stats = run_extract_job(spark, cfg)
    assert stats["rounds"] == 2 and stats["rows_written"] == N_ROWS
    assert stats["errors"] == 0  # every fixture pdf parses
    data = spark.read.parquet(out + "/data")
    assert data.count() == N_ROWS
    expected = {u: extract_pdf_text(p) for u, _ts, p in rows}
    for r in data.select("url", "text", "n_pages").collect():
        assert r.text == expected[r.url] and r.n_pages >= 1
    # re-run resumes to a no-op (manifest covers all buckets)
    stats2 = run_extract_job(spark, cfg)
    assert stats2["done_at_start"] == 4 and stats2["rounds"] == 0


def test_encoding_kernels_e2e(spark):
    """X11 through the Spark surface: extract_df transcodes non-UTF-8
    pages before the parse (one MapInArrow), and sniff_encoding_df
    reports the census verdicts — both against the multi-charset
    fixture's independently composed expectations."""
    from fixtures.gen_encodings import ensure_encodings
    from htmld_spark.functions.udfs import extract_df, sniff_encoding_df

    fx = spark.read.parquet(ensure_encodings())
    out = extract_df(fx.select("url", "html"), with_spans=False)
    j = out.join(
        fx.select("url", F.col("text").alias("expected")), "url"
    )
    assert j.count() == fx.count()
    assert j.filter(F.col("text") != F.col("expected")).count() == 0

    sn = sniff_encoding_df(fx.select("url", "html"))
    k = sn.join(
        fx.select(
            "url",
            F.col("encoding").alias("e_exp"),
            F.col("source").alias("s_exp"),
        ),
        "url",
    )
    assert k.filter(
        (F.col("encoding") != F.col("e_exp"))
        | (F.col("source") != F.col("s_exp"))
    ).count() == 0


@pytest.fixture(scope="module")
def spans_job(spark, pages_path, tmp_path_factory):
    """A finished two-round job with spans on: (config, stats)."""
    out = str(tmp_path_factory.mktemp("spans_job"))
    cfg = JobConfig(source=pages_path, output=out, n_buckets=4, buckets_per_round=2)
    return cfg, run_extract_job(spark, cfg)


SPAN_LEAVES = ("node_id", "parent_id", "start", "end", "text_start", "text_end")


def test_job_output_delta_encoded_and_readable(spark, spans_job):
    """The span ids and offsets are written DELTA_BINARY_PACKED on v2
    pages, and Spark's vectorized and row readers, pyarrow and DuckDB all
    read the same spans back."""
    import glob

    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    cfg, stats = spans_job
    data = os.path.join(cfg.output, "data")
    files = glob.glob(os.path.join(data, "bucket=*", "*.parquet"))
    assert files and stats["errors"] == 0
    for path in files:
        meta = pq.ParquetFile(path).metadata
        for g in range(meta.num_row_groups):
            cols = meta.row_group(g)
            enc = {
                cols.column(i).path_in_schema: set(cols.column(i).encodings)
                for i in range(cols.num_columns)
            }
            for leaf in ("node_id", "start", "end", "text_start", "text_end"):
                got = enc[f"spans.list.element.{leaf}"]
                assert got == {"DELTA_BINARY_PACKED"}, (path, leaf, got)
            assert "RLE_DICTIONARY" in enc["spans.list.element.tag"]

    def spark_sums() -> tuple:
        s = spark.read.parquet(data).select(F.explode("spans").alias("s"))
        row = s.agg(F.count("*"), *[F.sum(f"s.{c}") for c in SPAN_LEAVES]).first()
        return tuple(row)

    key = "spark.sql.parquet.enableVectorizedReader"
    vectorized = spark_sums()
    spark.conf.set(key, "false")
    try:
        row_reader = spark_sums()
    finally:
        spark.conf.unset(key)
    sums = ", ".join(f"sum(s.{c})" for c in SPAN_LEAVES)
    duck = duckdb.connect().execute(
        f"SELECT count(*), {sums} FROM (SELECT unnest(spans) AS s FROM "
        f"read_parquet('{data}/*/*.parquet'))"
    ).fetchone()
    spans = pq.read_table(data, columns=["spans"]).column("spans")
    flat = pc.list_flatten(spans.combine_chunks())
    arrow = (len(flat), *[pc.sum(flat.field(c)).as_py() for c in SPAN_LEAVES])
    assert vectorized[0] > 0
    assert vectorized == row_reader == tuple(duck) == arrow


def test_job_manifest_matches_data(spark, spans_job):
    """Every manifest row equals a countDistinct recomputation from data/,
    and the manifest's schema is exactly MANIFEST_DDL."""
    from pyspark.sql import types as T

    from htmld_spark.pipeline.job import MANIFEST_DDL

    cfg, stats = spans_job
    manifest = spark.read.parquet(cfg.manifest_path)
    assert manifest.schema == T.StructType.fromDDL(MANIFEST_DDL)
    cols = ["n_rows", "n_bytes", "n_errors", "n_exec_partitions"]
    got = {r["bucket"]: tuple(r[c] for c in cols) for r in manifest.collect()}
    want = {
        r["bucket"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(os.path.join(cfg.output, "data"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_bytes").alias("n_bytes"),
            F.sum((~F.col("parse_ok")).cast("int")).alias("n_errors"),
            F.countDistinct("exec_partition_id").alias("n_exec_partitions"),
        )
        .collect()
    }
    assert stats["rounds"] == 2 and len(got) == cfg.n_buckets
    assert got == want


def test_manifest_parts_of_both_writers_read_as_one(spark, tmp_path):
    """A manifest part written by the earlier tuple-list path and one from
    the Arrow path read back as one table, so a job resumes across the
    change."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from htmld_spark.pipeline.job import (
        MANIFEST_DDL,
        _append_manifest,
        _read_done_buckets,
    )

    cfg = JobConfig(source="src", output=str(tmp_path))
    row = dict(
        n_rows=3, n_bytes=300, n_errors=0, n_exec_partitions=2, wall_ms=9,
        engine_version="e", rules_version="r", input_source="src",
    )
    old = [(0, 3, 300, 0, 2, 9, "e", "r", "src")]  # the earlier writer
    spark.createDataFrame(old, MANIFEST_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(cfg.manifest_path)
    _append_manifest(spark, cfg, [dict(row, bucket=1)])

    manifest = spark.read.parquet(cfg.manifest_path)
    assert manifest.schema == T.StructType.fromDDL(MANIFEST_DDL)
    assert sorted(tuple(r) for r in manifest.collect()) == [
        old[0], (1, *old[0][1:]),
    ]
    assert pq.read_table(cfg.manifest_path).num_rows == 2
    assert _read_done_buckets(spark, cfg.manifest_path) == {0, 1}


def test_unreadable_manifest_raises(spark, pages_path, tmp_path):
    """A manifest that cannot be read fails the job instead of reading as
    "no bucket done", which would re-extract and re-append everything."""
    cfg = JobConfig(source=pages_path, output=str(tmp_path), n_buckets=2,
                    buckets_per_round=2, with_spans=False)
    os.makedirs(cfg.manifest_path)
    with open(os.path.join(cfg.manifest_path, "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        run_extract_job(spark, cfg)
    assert not os.path.exists(os.path.join(cfg.output, "data"))


def test_uncommitted_first_manifest_append_reads_as_fresh(spark, tmp_path):
    """A crash inside the first manifest append leaves only Spark's
    ``_temporary`` directory: no bucket is done yet, and no error."""
    from htmld_spark.pipeline.job import _read_done_buckets

    manifest = tmp_path / "_manifest"
    (manifest / "_temporary" / "0").mkdir(parents=True)
    assert _read_done_buckets(spark, str(manifest)) == set()
    assert _read_done_buckets(spark, str(tmp_path / "absent")) == set()
