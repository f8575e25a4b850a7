"""The distributed extraction plan — the engine's flagship job.

Re-expresses the reference batch entry points (run_dpsk_ocr_eval_batch.py /
run_dpsk_ocr_pdf.py end-to-end flow, SURVEY.md §3) as one Spark DataFrame
plan over ``documents(url, warc_ts, html, text, lang)``:

  scan (column-pruned: url+html only)
    → [auto] round-robin input spread          [only when the input has fewer
       scan splits than the cluster parallelism — a real 100 TB table has
       thousands of splits and skips this shuffle entirely]
    → ONE mapInPandas, one output row per input row:
       split_pages → extract_page               [O-2 fan-out + O-38 kernel]
       → SKIP_REPEAT keep + EOS strip           [O-19/O-33]
       → tile plan + vision tokens              [O-10/O-11/O-13]
       → span parse + pixel rescale             [O-30…O-32]
       → mode cascade with kept-page jdx        [O-26/O-27, O-30…O-36]
       → ordered page fold + text-token count   [O-24]
      (iterator batches = the continuous-batching analog; per-worker kernel
      singleton)
    → compression ratio + sha2 digest           [JVM projections, O-25]

A document's pages never leave the Python worker that split them, so there
is nothing to regroup: no url shuffle, and the page text crosses the Arrow
boundary once, as the folded row. Because the fold runs per input row,
duplicate and NULL urls each keep their own output row, exactly like the
oracle.

Shuffle budget — ZERO exchanges on a well-split input, one round-robin
spread for a few-split input. One Python stage, no windows, no joins.
Skew: work per doc is bounded (≤~40 pages × the 8192-token cap), so doc-
granular distribution evens out at thousands of docs per task; the giant-
document regime has its own page-granular lane (``extract_documents_paged``)
that shares the fold.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepseek_ocr_spark.config import EngineConfig, DEFAULT_CONFIG
from deepseek_ocr_spark.pipeline.session import spread_input

_KERNEL = None  # per-Python-worker singleton (the one-replica-per-executor pattern)


def _get_kernel():
    global _KERNEL
    if _KERNEL is None:
        # the deterministic kernel has no weights to load; the singleton
        # pattern is kept so a real model drop-in initializes once per worker
        from deepseek_ocr_spark.kernels import extract as kernel_mod

        _KERNEL = kernel_mod
    return _KERNEL


# Spans carry both the 0-999 virtual-grid coords (the model grammar) and the
# pixel-rescaled box (O-32, image.py:97-103) — the pixel coords feed the
# region side-output table (O-6 analog, metrics.region_images_table).
DOC_SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("label", T.StringType()),
            T.StructField("x1", T.IntegerType()),
            T.StructField("y1", T.IntegerType()),
            T.StructField("x2", T.IntegerType()),
            T.StructField("y2", T.IntegerType()),
            T.StructField("px1", T.IntegerType()),
            T.StructField("py1", T.IntegerType()),
            T.StructField("px2", T.IntegerType()),
            T.StructField("py2", T.IntegerType()),
            T.StructField("page_no", T.IntegerType()),
            T.StructField("ord", T.IntegerType()),
        ]
    )
)

# Kept-page dims in assembly order, so downstream sinks (layouts_table O-7)
# can rebuild per-page canvases without re-running the split.
PAGE_DIMS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("page_no", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ]
    ),
    containsNull=False,
)

FOLDED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("raw_text", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("spans", DOC_SPAN_TYPE),
        T.StructField("page_dims", PAGE_DIMS_TYPE, nullable=False),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_vision_tokens", T.LongType()),
        T.StructField("n_text_tokens", T.LongType()),
    ]
)
_FOLDED_COLS = [f.name for f in FOLDED_SCHEMA.fields]


def fold_document(pages: Iterable[tuple[int, int, int, str]], cfg: EngineConfig) -> tuple:
    """One document's extracted pages, in page order, as (page_no, width,
    height, raw) → the folded columns of FOLDED_SCHEMA after ``url``.

    SKIP_REPEAT gate, tile plan + vision tokens of every kept page, span
    parse, the mode cascade with the kept-page ordinal jdx (pdf.py:285,320),
    assembly with the page separator and the text-token count — the same
    kernel functions in the same order as the oracle loop."""
    from deepseek_ocr_spark.kernels import postprocess as pp
    from deepseek_ocr_spark.kernels.tiling import tile_plan
    from deepseek_ocr_spark.kernels.tokens import num_text_tokens, num_vision_tokens

    raw_parts, clean_parts, spans, page_dims = [], [], [], []
    vision_tokens = 0
    for page_no, width, height, raw in pages:
        keep, content = pp.eos_keep_and_strip(raw, cfg.skip_repeat)
        if not keep:
            continue
        jdx = len(raw_parts)
        page_dims.append((page_no, width, height))
        nw, nh = tile_plan(
            width, height, cfg.crop_mode, cfg.image_size, cfg.min_crops, cfg.max_crops
        )
        vision_tokens += num_vision_tokens(nw, nh, cfg.base_size, cfg.image_size)
        raw_parts.append(content)
        for s in pp.parse_spans(content):
            px1, py1, px2, py2 = pp.rescale_box(
                s["x1"], s["y1"], s["x2"], s["y2"], width, height
            )
            spans.append(
                (
                    s["label"], s["x1"], s["y1"], s["x2"], s["y2"],
                    px1, py1, px2, py2, page_no, s["ord"],
                )
            )
        if cfg.mode == "eval":
            clean_parts.append(pp.clean_page_eval(content))
        elif cfg.mode == "image":
            clean_parts.append(pp.clean_page_image(content))
        else:
            clean_parts.append(pp.clean_page_pdf(content, jdx))
    text = pp.assemble_pages(clean_parts)
    return (
        pp.assemble_pages(raw_parts),
        text,
        spans,
        page_dims,
        len(raw_parts),
        vision_tokens,
        num_text_tokens(text),
    )


def _folded_frame(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame.from_records(rows, columns=_FOLDED_COLS)


def _with_metrics(folded: DataFrame) -> DataFrame:
    """The two JVM projections over the folded rows (O-25)."""
    return folded.withColumn(
        "compression_ratio",
        F.when(
            F.col("n_vision_tokens") > 0,
            F.col("n_text_tokens").cast("double") / F.col("n_vision_tokens"),
        ).otherwise(F.lit(0.0)),
    ).withColumn("digest", F.sha2(F.encode(F.col("text"), "UTF-8"), 256))


# ---------------------------------------------------------------------------
# The flagship plan — one Python stage per document
# ---------------------------------------------------------------------------


def extract_documents(docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """documents → extracted(url, raw_text, text, spans, page_dims, n_pages,
    n_vision_tokens, n_text_tokens, compression_ratio, digest), one row per
    input row.

    Byte-identical per row to ``oracle.runner.extract_url`` (pytest gate).
    """

    def fold_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kernel = _get_kernel()
        for pdf in batches:
            yield _folded_frame(
                [
                    # null/bytes normalization happens inside the shared kernel
                    (url, *fold_document(
                        (
                            (rec.page_no, rec.width, rec.height, kernel.extract_page(rec))
                            for rec in kernel.split_pages(html)
                        ),
                        cfg,
                    ))
                    for url, html in zip(pdf["url"], pdf["html"])
                ]
            )

    src = spread_input(docs.select("url", "html"))
    return _with_metrics(src.mapInPandas(fold_batches, FOLDED_SCHEMA))


# ---------------------------------------------------------------------------
# Giant-document lane — page-granular extraction, the same fold
# ---------------------------------------------------------------------------

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("doc", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("page_html", T.StringType()),
        T.StructField("degenerate", T.BooleanType()),
    ]
)


def _split_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    kernel = _get_kernel()
    for pdf in batches:
        yield pd.DataFrame.from_records(
            [
                (doc, url, rec.page_no, seq, rec.width, rec.height, rec.html, rec.degenerate)
                for doc, url, html in zip(pdf["doc"], pdf["url"], pdf["html"])
                for seq, rec in enumerate(kernel.split_pages(html))
            ],
            columns=[f.name for f in PAGES_SCHEMA.fields],
        )


@F.pandas_udf(T.StringType())
def page_extract_udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
    """Page-granular kernel call for the giant-doc path: one page row →
    raw grounded markdown (iterator form, per-worker singleton)."""
    kernel = _get_kernel()
    PageRecord = kernel.PageRecord
    for pdf in it:
        yield pd.Series(
            [
                kernel.extract_page(
                    PageRecord(int(pn), int(w), int(h), ph, bool(dg))
                )
                for pn, w, h, ph, dg in zip(
                    pdf["page_no"], pdf["width"], pdf["height"],
                    pdf["page_html"], pdf["degenerate"],
                )
            ]
        )


def extract_documents_paged(docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Page-granular variant for the giant-document regime (SURVEY.md §4.1).

    The flagship path distributes work at doc granularity — correct when
    docs are bounded (web pages, ≤~40 sections). When single documents are
    enormous (book-length PDFs: thousands of pages), one doc must not pin
    one task, so this path splits FIRST, shuffles pages by the salted page
    key (an explicit skew spread — AQE cannot rebalance UDF-stage work),
    extracts page-at-a-time, then regroups each document's pages and runs
    the same ``fold_document``. The regroup key is a per-input-row id, not
    the url, so duplicate and NULL urls keep one row each. Same schema and
    bytes as ``extract_documents`` (pytest gate); costs two page shuffles
    and two more Python stages, which is why it is not the default.
    """
    n = docs.sparkSession.sparkContext.defaultParallelism
    pages = docs.select(
        F.monotonically_increasing_id().alias("doc"), "url", "html"
    ).mapInPandas(_split_batches, PAGES_SCHEMA)
    # salted page-key spread: pages of one giant doc scatter across tasks
    pages = pages.repartition(n, F.pmod(F.hash("doc", "seq"), F.lit(n * 8)))
    pages = pages.withColumn(
        "raw",
        page_extract_udf(F.struct("page_no", "width", "height", "page_html", "degenerate")),
    ).drop("page_html", "degenerate")

    def fold_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seq")
        folded = fold_document(
            zip(pdf["page_no"].tolist(), pdf["width"].tolist(),
                pdf["height"].tolist(), pdf["raw"].tolist()),
            cfg,
        )
        return _folded_frame([(pdf["url"].iloc[0], *folded)])

    # Explicit REPARTITION_BY_NUM on the regroup key, which the groupBy
    # then reuses: an ENSURE_REQUIREMENTS exchange would let AQE's byte-
    # based coalescing shrink the Python fold stage to one task (observed).
    folded = pages.repartition(n, "doc").groupBy("doc").applyInPandas(
        fold_groups, FOLDED_SCHEMA
    )
    return _with_metrics(folded)
