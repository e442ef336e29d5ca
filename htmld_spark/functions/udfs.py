"""Document operators over pages frames — pipeline operator R6 (SURVEY.md §2.B).

Each operator pairs an output DDL with a kernel: per-slice Python that runs
the §2.A engine (tokenize → arena DOM → extract, the Python analog of the
reference's single-pass parse, src/html/parser.d [recalled] — SURVEY.md
§3.1) over plain lists of documents. ``functions/docmap.map_docs`` runs
every kernel inside one ``mapInArrow``, so JVM → Python crosses once per
Arrow batch, never per row (BASELINE.json input_hint: "vectorized
pandas/Arrow UDFs (no per-row Python)"), and owns the rest of the crossing:
partition ids, byte-budget slicing of oversized blobs (R4), pass-through
columns, the never-raise guard and batch assembly.

The extraction kernel calls the engine through this module's globals
(``to_utf8``, ``parse_document``, ``main_text``, ``element_span_columns``),
looked up at call time, so perfbench's udfs probe can time each engine call
by wrapping them from outside.
"""

from __future__ import annotations

import pyarrow as pa

from htmld_spark import ENGINE_VERSION
from htmld_spark.engine.dom import parse_document
from htmld_spark.engine.encoding import (
    content_type_charset,
    sniff_encoding,
    to_utf8,
)
from htmld_spark.engine.extract import (
    MAIN_TEXT_RULES_VERSION,
    element_span_columns,
    main_text,
)
from htmld_spark.functions.docmap import (
    DEFAULT_BYTE_BUDGET,
    ROW,
    arrow_map,
    arrow_schema,
    map_docs,
)

EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, text string, "
    "n_bytes bigint, n_nodes int, n_spans int, parse_ok boolean, "
    "spans array<struct<node_id:int, parent_id:int, tag:string, "
    "start:bigint, end:bigint, text_start:bigint, text_end:bigint>>, "
    "exec_partition_id int"
)
EXTRACT_SCHEMA_NO_SPANS = (
    "url string, warc_ts timestamp, lang string, text string, "
    "n_bytes bigint, n_nodes int, n_spans int, parse_ok boolean, "
    "exec_partition_id int"
)
SPANS_TYPE = arrow_schema(EXTRACT_SCHEMA).field("spans").type

# pages-shaped outputs carry these input columns through (nulls if absent)
PAGE_KEEP = ("url", "warc_ts", "lang")


def _extract_kernel(with_spans: bool):
    span_fields = list(SPANS_TYPE.value_type)

    def extract(raws, content_types):
        # X11: charset sniff + UTF-8 normalization BEFORE the parse
        # (engine/encoding.py — zero-copy when the input already validates
        # as UTF-8; an HTTP Content-Type charset, when the input carries a
        # content_type column, outranks the meta prescan). Spans index the
        # normalized bytes.
        if content_types is None:
            labels = [None] * len(raws)
        else:
            labels = [content_type_charset(ct) for ct in content_types]
        texts, n_bytes, n_nodes, n_spans = [], [], [], []
        # columnar span accumulation: 7 flat columns + list offsets
        span_cols: tuple[list, ...] = ([], [], [], [], [], [], [])
        offsets = [0]
        for raw, label in zip(raws, labels):
            raw = raw or b""
            doc = parse_document(to_utf8(raw, label)[0])
            texts.append(main_text(doc).decode("utf-8", "replace"))
            n_bytes.append(len(raw))
            n_nodes.append(doc.n_nodes())
            if with_spans:
                n_spans.append(element_span_columns(doc, span_cols))
                offsets.append(len(span_cols[0]))
            else:
                n_spans.append(0)
        out = {
            "text": texts,
            "n_bytes": n_bytes,
            "n_nodes": n_nodes,
            "n_spans": n_spans,
            "parse_ok": [True] * len(raws),
        }
        if with_spans:
            out["spans"] = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.StructArray.from_arrays(
                    [pa.array(c, f.type) for c, f in zip(span_cols, span_fields)],
                    fields=span_fields,
                ),
                type=SPANS_TYPE,
            )
        return out

    return extract


def _extract_spec(with_spans: bool) -> dict:
    return {
        "kernel": _extract_kernel(with_spans),
        "out_ddl": EXTRACT_SCHEMA if with_spans else EXTRACT_SCHEMA_NO_SPANS,
        "args": ("html", "content_type"),
        "keep": PAGE_KEEP,
        "blob": "html",
    }


def make_extract_fn(with_spans: bool = True):
    """The ``mapInArrow`` callable behind ``extract_df``: Arrow batches of
    (url, html[, warc_ts, lang, content_type]) → extracted batches. Runs
    off Spark as well, with ``exec_partition_id`` -1."""
    return arrow_map(**_extract_spec(with_spans))


def extract_df(df, with_spans: bool = True, byte_budget: int = DEFAULT_BYTE_BUDGET):
    """Apply the extraction engine to a pages DataFrame (url, html[, warc_ts,
    lang, content_type]) → extracted DataFrame. The single JVM↔Python
    boundary of the pipeline (SURVEY.md §3.4)."""
    return map_docs(df, **_extract_spec(with_spans), byte_budget=byte_budget)


def select_count_df(df, selectors: list[str], names: list[str] | None = None):
    """Count CSS-selector matches per document (S18 surfaced relationally):
    (url[, warc_ts], <name> int...). Selectors are compiled ONCE here on the
    driver and shipped in the closure — compile-once/match-many, the analog
    of the reference's Selector.parse reuse (SURVEY.md §3.2). ``warc_ts``
    passes through when present (duplicate urls need it as a tiebreaker)."""
    from htmld_spark.engine.selector import compile_selector, query_select_all

    if names is None:
        names = [f"c{i}" for i in range(len(selectors))]
    compiled = [(n, compile_selector(s)) for n, s in zip(names, selectors)]

    def count(raws):
        counts = {n: [] for n, _ in compiled}
        for raw in raws:
            doc = parse_document(to_utf8(raw or b"")[0])
            for n, sel in compiled:
                counts[n].append(sum(1 for _ in query_select_all(doc, sel)))
        return counts

    cols = "url string, "
    if "warc_ts" in df.columns:
        cols += "warc_ts timestamp, "
    schema = cols + ", ".join(f"{n} int" for n in names)
    return map_docs(
        df, count, schema, args=("html",), keep=("url", "warc_ts"), blob="html"
    )


SELECT_EXTRACT_SCHEMA = (
    "url string, selector string, n_matches int, "
    "texts array<string>, htmls array<string>"
)
SELECT_EXTRACT_SCHEMA_TS = (
    "url string, warc_ts timestamp, selector string, n_matches int, "
    "texts array<string>, htmls array<string>"
)


def select_extract_df(
    df,
    selectors: list[str],
    max_matches: int = 20,
    with_html: bool = False,
):
    """The reference's primary per-document workflow — querySelectorAll →
    innerText/outerHTML (SURVEY.md §3.2/§3.3) — surfaced relationally over a
    pages DataFrame: one row per (url[, warc_ts], selector) with the first
    ``max_matches`` matched texts (and markup when ``with_html``).
    Selectors compile once on the driver."""
    from htmld_spark.engine.extract import inner_text, outer_html
    from htmld_spark.engine.selector import compile_selector, query_select_all

    compiled = [(s, compile_selector(s)) for s in selectors]

    def select(raws):
        o_row, o_sel, o_n, o_texts, o_htmls = [], [], [], [], []
        for ri, raw in enumerate(raws):
            doc = parse_document(to_utf8(raw or b"")[0])
            for sel_str, sel in compiled:
                nodes = []
                for nid in query_select_all(doc, sel):
                    nodes.append(nid)
                    if len(nodes) >= max_matches:
                        break
                o_row.append(ri)
                o_sel.append(sel_str)
                o_n.append(len(nodes))
                o_texts.append(
                    [inner_text(doc, n).decode("utf-8", "replace") for n in nodes]
                )
                o_htmls.append(
                    [outer_html(doc, n).decode("utf-8", "replace") for n in nodes]
                    if with_html
                    else None
                )
        return {
            ROW: o_row,
            "selector": o_sel,
            "n_matches": o_n,
            "texts": o_texts,
            "htmls": o_htmls,
        }

    schema = (
        SELECT_EXTRACT_SCHEMA_TS if "warc_ts" in df.columns else SELECT_EXTRACT_SCHEMA
    )
    return map_docs(
        df, select, schema, args=("html",), keep=("url", "warc_ts"), blob="html"
    )


ENGINE_META = {
    "engine_version": ENGINE_VERSION,
    "rules_version": MAIN_TEXT_RULES_VERSION,
}


# --------------------------------------------------------------------- PDF leg

PDF_EXTRACT_SCHEMA = (
    "pdf_id bigint, text string, n_pages int, n_bytes bigint, parse_ok boolean"
)
PDF_PAGES_SCHEMA = (
    "url string, warc_ts timestamp, lang string, text string, "
    "n_bytes bigint, n_pages int, parse_ok boolean, exec_partition_id int"
)


def _pdf_kernel(raws):
    """The PDF leg of the extraction tier (engine/pdf.py — the north rule's
    "PDF/layout parse"); a document parses when it yields ≥1 page."""
    from htmld_spark.engine.pdf import extract_pdf

    texts, n_pages, n_bytes = [], [], []
    for raw in raws:
        raw = raw or b""
        txt, np_ = extract_pdf(raw)
        texts.append(txt)
        n_pages.append(np_)
        n_bytes.append(len(raw))
    return {
        "text": texts,
        "n_pages": n_pages,
        "n_bytes": n_bytes,
        "parse_ok": [n > 0 for n in n_pages],
    }


def extract_pdf_df(df):
    """Apply the PDF extraction engine to a (pdf_id, pdf) DataFrame →
    (pdf_id, text, n_pages, n_bytes, parse_ok). One MapInArrow crossing,
    exactly like the HTML ``extract_df``."""
    return map_docs(
        df, _pdf_kernel, PDF_EXTRACT_SCHEMA, args=("pdf",), keep=("pdf_id",),
        blob="pdf",
    )


def extract_pdf_pages_df(df, byte_budget: int = DEFAULT_BYTE_BUDGET):
    """Apply the PDF engine to a (url, pdf[, warc_ts, lang]) pages frame →
    the HTML kernel's pass-through shape, so ``curate(source='pdf')`` drops
    into the same downstream plan. One MapInArrow crossing."""
    return map_docs(
        df, _pdf_kernel, PDF_PAGES_SCHEMA, args=("pdf",), keep=PAGE_KEEP,
        blob="pdf", byte_budget=byte_budget,
    )


PDF_INFO_SCHEMA = (
    "pdf_id bigint, title string, producer string, creation_date string, "
    "encrypted boolean"
)


def pdf_info_df(df):
    """Document-metadata extraction (engine/pdf.pdf_info_ex — trailer
    /Info with a keyed-dict fallback, one parse per doc): (pdf_id, pdf) →
    (pdf_id, title, producer, creation_date, encrypted), nulls where absent.
    Encrypted documents (standard security handler, §7.6) report
    encrypted=true with null metadata — their Info strings are
    ciphertext, and mojibake must not enter the corpus. One MapInArrow
    crossing."""
    from htmld_spark.engine.pdf import pdf_info_ex

    def info(raws):
        pairs = [pdf_info_ex(r or b"") for r in raws]
        return {
            "title": [p[0].get("Title") for p in pairs],
            "producer": [p[0].get("Producer") for p in pairs],
            "creation_date": [p[0].get("CreationDate") for p in pairs],
            "encrypted": [p[1] for p in pairs],
        }

    return map_docs(
        df, info, PDF_INFO_SCHEMA, args=("pdf",), keep=("pdf_id",), blob="pdf"
    )


LINKS_SCHEMA = (
    "url string, warc_ts timestamp, links array<string>, "
    "anchor_texts array<string>, n_links int, parse_ok boolean"
)


def _links_kernel(urls, raws):
    from htmld_spark.engine.links import extract_links_with_text

    links, texts = [], []
    for u, raw in zip(urls, raws):
        pairs = extract_links_with_text(
            parse_document(to_utf8(raw or b"")[0]), u or ""
        )
        links.append([p[0] for p in pairs])
        texts.append([p[1] for p in pairs])
    return {
        "links": links,
        "anchor_texts": texts,
        "n_links": [len(x) for x in links],
        "parse_ok": [True] * len(links),
    }


def extract_links_df(df):
    """Outlinks of a pages frame (engine/links.py): (url, html[, warc_ts])
    → (url, warc_ts, links, anchor_texts, n_links, parse_ok), links in
    document order plus the parallel anchor-text array (links[i] ↔
    anchor_texts[i] — the retrieval-training pair view). ONE MapInArrow
    crossing; downstream frontier policy (dedup, robots, host budgets) and
    anchor-pair harvesting compose on the array columns with ordinary
    relational ops (arrays_zip + posexplode stay JVM-side)."""
    return map_docs(
        df, _links_kernel, LINKS_SCHEMA, args=("url", "html"),
        keep=("url", "warc_ts"), blob="html",
    )


# --- X10: page-metadata extraction ------------------------------------

META_SCHEMA = (
    "url string, warc_ts timestamp, title string, description string, "
    "meta_robots string, canonical_url string, lang string, "
    "charset string, og_props array<string>, og_values array<string>, "
    "parse_ok boolean"
)
_META_FIELDS = (
    "title", "description", "meta_robots", "canonical_url", "lang", "charset",
    "og_props", "og_values",
)


def _meta_kernel(urls, raws):
    from htmld_spark.engine.meta import extract_meta

    recs = [
        extract_meta(parse_document(to_utf8(raw or b"")[0]), u or "")
        for u, raw in zip(urls, raws)
    ]
    out = {f: [r[f] for r in recs] for f in _META_FIELDS}
    out["parse_ok"] = [True] * len(recs)
    return out


def extract_meta_df(df):
    """Page metadata of a pages frame (engine/meta.py): (url, html[,
    warc_ts]) → one row per page with the pinned head-metadata record
    (title, description, robots consent, canonical url, lang, charset, the
    OpenGraph card as parallel sorted arrays). ONE MapInArrow crossing;
    downstream policy (canonical-vs-L60 dedup keys, consent filtering on
    meta_robots, language routing) composes with ordinary relational ops."""
    return map_docs(
        df, _meta_kernel, META_SCHEMA, args=("url", "html"),
        keep=("url", "warc_ts"), blob="html",
    )


# --- X11: charset sniff census ------------------------------------------

ENCODING_SCHEMA = "url string, encoding string, source string"


def _sniff_kernel(raws, content_types):
    if content_types is None:
        labels = [None] * len(raws)
    else:
        labels = [content_type_charset(ct) for ct in content_types]
    pairs = [sniff_encoding(r or b"", lab) for r, lab in zip(raws, labels)]
    return {"encoding": [p[0] for p in pairs], "source": [p[1] for p in pairs]}


def sniff_encoding_df(df):
    """Charset census of a pages frame (X11, engine/encoding.py): (url,
    html) → (url, encoding, source) where ``encoding`` is the pinned
    Python codec the normalizer would decode with (WHATWG labels folded:
    latin1→cp1252, shift_jis→cp932, …) and ``source`` is bom / meta /
    utf-8 / fallback — plus ``transport`` when the frame carries a
    ``content_type`` column (WARC ingest) whose charset parameter
    resolves. ONE row-local MapInArrow crossing — the corpus
    encoding-mix report (GROUP BY encoding downstream stays JVM-side)."""
    return map_docs(
        df, _sniff_kernel, ENCODING_SCHEMA, args=("html", "content_type"),
        keep=("url",), blob="html",
    )
