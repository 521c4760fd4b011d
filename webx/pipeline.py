"""End-to-end extraction pipeline as DataFrame transformations.

The Spark recast of the reference's serial CLI loop
(tools/infer/text/predict_system.py:45-137) and of its hand-built
multiprocess DAG (deploy/py_infer/src/parallel/*, SURVEY.md §3.4): Spark
supplies the pipelined stages, bounded buffers, fan-out/fan-in by key and
straggler handling; we keep (a) the stage decomposition, (b) explicit
partitioning/skew control, (c) per-partition metrics (webx.lineage).

Scale notes (the plan this produces at 100 TB):
* default is a NARROW plan — scan → mapInArrow → sink, no shuffle at
  all; Iceberg/parquet split sizing already balances bytes per task, and
  the extractor is embarrassingly per-row.
* ``cfg.repartition`` adds an explicit url-hash exchange only when the
  source layout is pathological (e.g. crawl files sorted by host so one
  task gets all of a mega-host). Salt (``pmod(xxhash64(url, salt), B)``)
  breaks mega-host runs; ``size_gears`` adds a log2(html length) bucket —
  the dynamic-gear analog (deploy/py_infer/src/data_process/utils/
  gear_utils.py:9-48) — so giant pages spread across tasks.
* column pruning: we select only the columns the stage needs before the
  mapInArrow, so the parquet/Iceberg scan reads url+html (+passthrough),
  never the teacher ``text`` column.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from webx.config import ExtractConfig
from webx.extract import make_detect_fn, make_extract_fn
from webx.schema import DET_SPAN_TYPE, META_TYPE, extracted_schema

import pyspark.sql.types as T


def partition_for_extraction(df: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """Explicit url-hash repartition with salt + optional size gears."""
    if cfg.repartition is None:
        return df
    keys = [F.pmod(F.xxhash64(F.col("url"), F.lit(42)), F.lit(cfg.salt_buckets))]
    if cfg.size_gears:
        keys.append(F.ceil(F.log2(F.greatest(F.length("html"), F.lit(1)))))
    keys.append(F.xxhash64("url"))
    return df.repartition(cfg.repartition, *keys)


def run_extraction(
    pages: DataFrame,
    cfg: Optional[ExtractConfig] = None,
    passthrough: Optional[Tuple[str, ...]] = None,
    charset_col: Optional[str] = None,
) -> DataFrame:
    """pages(url, html, …) → (url, text, spans, conf, status, meta, *passthrough).

    ``charset_col`` names a per-row HTTP-header charset hint column
    (read_warc(with_charset=True) produces one); WHATWG precedence —
    BOM > header hint > in-document meta — applies per document."""
    cfg = cfg or ExtractConfig()
    pt = tuple(passthrough if passthrough is not None else ())
    pt = tuple(c for c in pt if c in pages.columns)
    if charset_col is not None and charset_col not in pages.columns:
        charset_col = None
    extra = (charset_col,) if charset_col and charset_col not in pt else ()
    cols = ["url", "html", *pt, *extra]
    df = pages.select(*cols)  # column pruning reaches the scan
    df = partition_for_extraction(df, cfg)
    out_schema = extracted_schema([pages.schema[c] for c in pt])
    return df.mapInArrow(make_extract_fn(cfg, pt, charset_col), schema=out_schema)


def run_interleave(
    pages: DataFrame,
    cfg: Optional[ExtractConfig] = None,
    charset_col: Optional[str] = None,
) -> DataFrame:
    """MMC4/OBELICS-style interleaved documents: (url, seq, kind, text,
    src, alt) — the extractor's text spans and <img> occurrences merged
    in DOM order, one row per sequence element (webx/extract.py
    interleave_batch). Same narrow plan as run_extraction: pruned scan →
    one mapInPandas → rows; src resolution stays a downstream column op."""
    from webx.extract import lane_columns, make_interleave_fn

    cfg = cfg or ExtractConfig()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("seq", T.IntegerType()),
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("src", T.StringType()),
            T.StructField("alt", T.StringType()),
        ]
    )
    cols, charset_col = lane_columns(pages, charset_col)
    df = partition_for_extraction(pages.select(*cols), cfg)
    return df.mapInPandas(make_interleave_fn(cfg, charset_col), schema=schema)


def image_contexts(interleaved: DataFrame) -> DataFrame:
    """Context assignment over an interleaved sequence (run_interleave
    output): every image row gains the nearest text BEFORE and AFTER it
    in reading order ('' at document edges) — the text-context pairing
    interleaved multimodal corpora attach to each image when no
    similarity model is in the loop. Two last/first window functions
    over (url, seq) — one shuffle on url, no Python."""
    w_before = (
        Window.partitionBy("url").orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_after = (
        Window.partitionBy("url").orderBy("seq")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    txt = F.when(F.col("kind") == "text", F.col("text"))
    return (
        interleaved.withColumn(
            "context_before", F.coalesce(F.last(txt, ignorenulls=True).over(w_before), F.lit(""))
        )
        .withColumn(
            "context_after", F.coalesce(F.first(txt, ignorenulls=True).over(w_after), F.lit(""))
        )
        .filter(F.col("kind") == "image")
        .select("url", "seq", "src", "alt", "context_before", "context_after")
    )


def run_detect(pages: DataFrame, cfg: Optional[ExtractConfig] = None) -> DataFrame:
    """Stage 1 only → (url, spans, meta); debug parity with save_det_res."""
    cfg = cfg or ExtractConfig()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("spans", T.ArrayType(DET_SPAN_TYPE)),
            T.StructField("meta", META_TYPE),
        ]
    )
    df = pages.select("url", "html")
    df = partition_for_extraction(df, cfg)
    return df.mapInPandas(make_detect_fn(cfg), schema=schema)


def explode_spans(extracted: DataFrame) -> DataFrame:
    """1 doc → N spans lateral view (the crop fan-out analog,
    predict_system.py:71-79): (url, span_idx, start, end, score, kind, text)."""
    return extracted.select(
        "url", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "url",
        "span_idx",
        F.col("span.start").alias("start"),
        F.col("span.end").alias("end"),
        F.col("span.score").alias("score"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("span_text"),
    )
