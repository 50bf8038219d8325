"""The extraction DataFrame DAG — staged and fused modes.

Staged mode is the SURVEY.md §3.1 plan shape, the distributed recast of the
reference's detect→recognize lifecycle::

    read pages → mapInArrow(detect blocks)
      → filter(KEEP_PREDICATE)                 # Catalyst-side conf mask (O3)
      → mapInArrow(recognize_assemble)         # recognize, empty-region drop
      → extracted                              # (O8), reading-order A4

Both Python stages are partition-local and there is no Exchange: a document's
blocks arrive as one contiguous run ending in its sentinel row, so the
extracted corpus text never crosses the wire.

Fused mode collapses detect+recognize+reassembly into ONE Arrow pass (no
shuffle at all — blocks of a document never leave its row), the distributed
form of ``_process_one_page`` (``bilingual_ocr.py:126-211``). It is the
throughput path; staged mode exists for block-level inspection and metrics.
Both modes assemble through ``extraction.core.assemble`` and emit identical
bytes (golden tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from engine.salt import salted_repartition
from engine.stages import (
    BLOCKS_SCHEMA,
    EXTRACTED_CORE_SCHEMA,
    KEEP_PREDICATE,
    KEEP_PREDICATE_FALLBACK,
    make_detect_blocks,
    make_extract_fused_arrow,
    recognize_assemble,
)

def _prepare(pages: DataFrame, num_parts: int | None, *extra) -> DataFrame:
    """Column-prune (F7) and optionally salt-repartition the pages scan;
    ``extra`` columns are selected after the four page columns.

    ``num_parts=None`` (default) keeps the scan's own partitioning — ZERO
    shuffle, the correct plan at 100 TB scale (raw html never crosses the
    wire; skew is handled by input-split sizing + giant-block chunking inside
    the segmenter). Passing ``num_parts`` applies the explicit url-salted
    repartition (engine/salt.py) — useful when upstream partitioning is
    pathological (one huge file, hot key ranges) at the cost of shuffling
    the raw bytes once. Both produce byte-identical output (invariance tests).
    """
    df = pages.select("url", "warc_ts", "html", "lang", *extra)
    if num_parts is not None:
        df = salted_repartition(df, num_parts)
    return df


def detect(
    pages: DataFrame,
    num_parts: int | None = None,
    emit_filtered_text: bool = True,
    fallback: bool = False,
) -> DataFrame:
    """Stage 1 as a standalone DataFrame (the `blocks` intermediate table).

    ``emit_filtered_text=False`` applies the in-UDF threshold pushdown
    (SURVEY §4 O3): boilerplate block text never crosses the Arrow channel —
    the staged pipeline uses this since only surviving blocks reach stage 2.
    ``fallback=True`` marks the O5 relaxed-pass winner ``forced`` on docs
    where no block passes the keep rule.
    """
    return _prepare(pages, num_parts).mapInArrow(
        make_detect_blocks(emit_filtered_text, fallback), schema=BLOCKS_SCHEMA
    )


def run_staged(
    pages: DataFrame,
    num_parts: int | None = None,
    fallback: bool = False,
) -> DataFrame:
    """Staged detect → Catalyst keep-filter → recognize+reassemble.

    Two Python stages and zero Exchange: documents are contiguous runs
    ending in their sentinel within each partition, so reassembly is
    partition-local. Only the columns stage 2 reads cross the boundary.
    """
    blocks = detect(pages, num_parts, emit_filtered_text=False, fallback=fallback)
    surviving = blocks.filter(
        F.expr(KEEP_PREDICATE_FALLBACK if fallback else KEEP_PREDICATE)
    ).select(
        "url", "warc_ts", "block_id", "text", "lang",
        "doc_n_blocks", "doc_status", "forced",
    )
    return surviving.mapInArrow(recognize_assemble, schema=EXTRACTED_CORE_SCHEMA)


def run_fused(
    pages: DataFrame,
    num_parts: int | None = None,
    fallback: bool = False,
) -> DataFrame:
    """Fused extraction: one mapInArrow stage, no pandas materialization of
    the big binary batches."""
    return _prepare(pages, num_parts).mapInArrow(
        make_extract_fused_arrow(fallback), schema=EXTRACTED_CORE_SCHEMA
    )


def run_fused_coverage(pages: DataFrame, num_parts: int | None = None) -> DataFrame:
    """Fused extraction with the IN-ROW coverage differential (VERDICT r2
    #4): ``n_crawl = length(text)`` is computed Catalyst-side at the scan and
    rides through the fused Arrow stage as a passthrough column, one integer
    per document, so the crawl-text cross-check needs NO corpus-wide url
    join — the plan is scan → project → MapInArrow, zero Exchange, and the
    crawl text column itself never enters the Python worker."""
    df = _prepare(pages, num_parts, F.length("text").cast("int").alias("n_crawl"))
    return df.mapInArrow(
        make_extract_fused_arrow(), schema=EXTRACTED_CORE_SCHEMA + ", n_crawl int"
    )


def run_extract(
    pages: DataFrame,
    mode: str = "fused",
    num_parts: int | None = None,
    run_id: str = "run0",
    fallback: bool = False,
) -> DataFrame:
    """Full pipeline -> extracted table incl. part_id + lineage columns.

    ``fallback=True`` turns on the O5 empty-result retry ladder in every
    mode: docs where no block passes the keep rule keep their best-scoring
    block and surface as ``status='fallback'`` instead of ``'empty'``.
    """
    if mode == "fused":
        core = run_fused(pages, num_parts, fallback)
    elif mode == "staged":
        core = run_staged(pages, num_parts, fallback)
    else:
        raise ValueError(f"unknown extraction mode {mode!r}")
    return core.withColumn("part_id", F.spark_partition_id()).withColumn(
        "lineage", F.lit(run_id)
    )
