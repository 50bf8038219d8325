"""The engine's vectorized Python stages (SURVEY.md §2.10) — the only places
Python touches row data. Every stage is a ``mapInArrow`` function over Arrow
record batches (never per-row Python UDFs, never pandas), and every stage
body is a call into ``extraction``, the single-document oracle.

- :func:`make_detect_blocks` — stage 1, 1 page row → N candidate-block rows
  (ref detect_and_crop_text_with_boxes, ``text_detection_yolov8.py:229-288``).
  Emits a sentinel row (``block_id = -1``) per document so documents whose
  blocks are all filtered out still reach the output with ``status='empty'``
  (ref "no regions detected" path, ``bilingual_ocr.py:167-181``).
- :func:`recognize_assemble` — stage 2 of staged mode: normalized text per
  surviving block (ref recognize_urdu/recognize_english + post_process,
  ``urdu_recognition_utrnet.py:132-166``, ``english_ocr_pipeline.py:52-84``)
  and partition-local reading-order reassembly on the sentinel.
- :func:`make_extract_fused_arrow` — the fused per-document stage used by
  the throughput path: detect+recognize+reassemble in one pass, zero
  shuffles — the distributed form of the reference's per-page orchestrator
  ``_process_one_page`` (``bilingual_ocr.py:126-211``).

Staged and fused are byte-identical by construction: both assemble through
``extraction.core.assemble`` (asserted against the goldens by
tests/test_golden_e2e.py).

Heavy init (routing tables, keep-sets) is module-level in ``extraction`` and
imported once per worker process — the engine analog of the reference's
load-once model state (SURVEY.md §4 O1).

Arrow batch sizing (``spark.sql.execution.arrow.maxRecordsPerBatch``,
runtime-settable): the *pages* stages move few, huge rows — 128-row batches
pipeline the JVM serializer with the Python worker (measured 3-4× faster
than 512). The staged block stages move many tiny rows instead; bench.py
runs them at 4096-row batches and sets the conf per measurement.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc

from extraction.core import (
    ExtractResult,
    assemble,
    best_block,
    extract_document,
    recognize_block,
)
from extraction.html_clean import decode_html
from extraction.routing import block_route, doc_route
from extraction.segment import segment_blocks

# Stage-1 output schema (SURVEY.md §1.3 `blocks` + doc-level carry columns).
BLOCKS_SCHEMA = (
    "url string, warc_ts timestamp, block_id int, tag string, text string, "
    "n_chars int, n_link_chars int, n_tags int, "
    "link_density double, tag_density double, score double, lang string, "
    "doc_n_blocks int, doc_status string, forced boolean"
)

# Final extracted schema (SURVEY.md §1.3 `extracted`, sans part_id/lineage
# which the pipeline appends uniformly).
EXTRACTED_CORE_SCHEMA = (
    "url string, warc_ts timestamp, extracted_text string, "
    "spans array<struct<block_id:int,start:int,end:int,lang:string>>, "
    "n_blocks int, n_kept int, status string"
)

# The Catalyst-side keep predicate — integer-only, byte-for-byte the same
# decision as extraction.segment._keep (SURVEY.md §7.3 H1). Sentinel rows
# always pass. Applied as a real DataFrame filter between the stages so the
# threshold is visible to the optimizer (ref conf mask re-check, SURVEY §4 O3).
KEEP_PREDICATE = (
    "(block_id = -1) OR "
    "(n_chars >= 25 AND n_chars <= 1000000 AND 3 * n_link_chars < n_chars)"
)

# With the O5 fallback ladder enabled, stage 1 marks the relaxed-pass winner
# `forced`; it must survive the Catalyst filter despite failing the keep rule.
KEEP_PREDICATE_FALLBACK = f"({KEEP_PREDICATE}) OR forced"

# Stage-1 columns after the (url, warc_ts) pair taken from the page batch.
_BLOCK_FIELDS = [
    ("block_id", pa.int32()), ("tag", pa.string()), ("text", pa.string()),
    ("n_chars", pa.int32()), ("n_link_chars", pa.int32()),
    ("n_tags", pa.int32()), ("link_density", pa.float64()),
    ("tag_density", pa.float64()), ("score", pa.float64()),
    ("lang", pa.string()), ("doc_n_blocks", pa.int32()),
    ("doc_status", pa.string()), ("forced", pa.bool_()),
]

_SPANS_TYPE = pa.list_(
    pa.struct(
        [
            ("block_id", pa.int32()),
            ("start", pa.int32()),
            ("end", pa.int32()),
            ("lang", pa.string()),
        ]
    )
)

# Page columns the fused stage consumes; any other input column passes through.
_PAGE_COLS = ("url", "warc_ts", "html", "lang")


def _sentinel(n_blocks: int, status: str | None) -> tuple:
    return (-1, "", "", 0, 0, 0, 0.0, 0.0, 0.0, "", n_blocks, status, False)


def _page_blocks(html, lang, emit_filtered_text: bool, fallback: bool) -> list[tuple]:
    """Stage-1 rows of one page: its blocks, then its sentinel — or a lone
    ``error:<ExcName>`` sentinel if the page cannot be segmented."""
    try:
        raw = decode_html(html) if isinstance(html, (bytes, bytearray)) else (html or "")
        blocks = segment_blocks(raw)
        droute = doc_route(lang)
        forced_id = -1
        if fallback and blocks and not any(b.kept for b in blocks):
            forced_id = best_block(blocks).block_id
        rows = []
        for b in blocks:
            route = droute if droute is not None else block_route(b.text)
            forced = b.block_id == forced_id
            text = b.text if (b.kept or forced or emit_filtered_text) else ""
            rows.append((
                b.block_id, b.tag, text, b.n_chars, b.n_link_chars, b.n_tags,
                b.link_density, b.tag_density, b.score, route, len(blocks),
                None, forced,
            ))
        rows.append(_sentinel(len(blocks), None))
        return rows
    except Exception as exc:  # noqa: BLE001 — error rows, not exceptions
        return [_sentinel(0, f"error:{type(exc).__name__}")]


def make_detect_blocks(emit_filtered_text: bool, fallback: bool):
    """Build the stage-1 fn: pages → candidate blocks (+1 sentinel per doc).

    With ``emit_filtered_text=False`` the raw text of blocks failing the keep
    rule is not emitted (features still are) — the in-UDF pushdown of the
    threshold (ref conf kwarg to model.predict, SURVEY §4 O3): boilerplate
    bytes never cross the Arrow channel. The pipeline's Catalyst filter
    re-checks the predicate either way.

    ``fallback=True`` enables the O5 relaxed second pass: on documents where
    NO block passes the keep rule, the best-scoring block
    (``extraction.core.best_block``) is emitted with ``forced=true`` (and its
    text, regardless of the pushdown) so downstream stages rescue it."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            src: list[int] = []  # input page row of each output row
            rows: list[tuple] = []
            pages = zip(b.column("html").to_pylist(), b.column("lang").to_pylist())
            for i, (html, lang) in enumerate(pages):
                page_rows = _page_blocks(html, lang, emit_filtered_text, fallback)
                src.extend([i] * len(page_rows))
                rows.extend(page_rows)
            take = pa.array(src, pa.int32())
            cols = list(zip(*rows)) or [()] * len(_BLOCK_FIELDS)
            yield pa.RecordBatch.from_arrays(
                [pc.take(b.column("url"), take), pc.take(b.column("warc_ts"), take)]
                + [pa.array(c, t) for c, (_, t) in zip(cols, _BLOCK_FIELDS)],
                names=["url", "warc_ts"] + [n for n, _ in _BLOCK_FIELDS],
            )

    return fn


def _extracted_batch(url, warc_ts, results: list[ExtractResult],
                     extra: dict[str, pa.Array]) -> pa.RecordBatch:
    """One EXTRACTED_CORE_SCHEMA batch (+ ``extra`` columns appended)."""
    return pa.RecordBatch.from_arrays(
        [
            url,
            warc_ts,
            pa.array([r.extracted_text for r in results], pa.string()),
            pa.array([[vars(s) for s in r.spans] for r in results], _SPANS_TYPE),
            pa.array([r.n_blocks for r in results], pa.int32()),
            pa.array([r.n_kept for r in results], pa.int32()),
            pa.array([r.status for r in results], pa.string()),
            *extra.values(),
        ],
        names=["url", "warc_ts", "extracted_text", "spans", "n_blocks",
               "n_kept", "status", *extra],
    )


def recognize_assemble(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Staged stage 2: surviving blocks → one extracted row per document.

    Stage 1 emits each document's blocks consecutively and terminates the run
    with its sentinel row (``block_id = -1``); the Catalyst keep-filter
    between the stages is narrow and order-preserving, so within a partition
    every document is still a contiguous run ending in its sentinel.
    Reassembly therefore needs NO shuffle at all: normalize each block, drop
    empty norms (O8), and flush the document on its sentinel — the parts
    state carries across Arrow batch boundaries. The document is joined by
    ``extraction.core.assemble``, the same helper as the fused stage.

    Duplicate (url, warc_ts) page rows each produce their own output row —
    identical to fused mode, unlike a groupBy-based reassembly which would
    merge them (ADVICE r1).
    """
    parts: list[tuple[int, str, str]] = []  # (block_id, route, norm_text)
    any_forced = False  # this doc's surviving parts came from the O5 ladder
    for b in batches:
        src: list[int] = []  # sentinel row of each finished document
        results: list[ExtractResult] = []
        rows = zip(*(b.column(c).to_pylist() for c in (
            "block_id", "text", "lang", "doc_n_blocks", "doc_status", "forced",
        )))
        for i, (block_id, text, lang, doc_nb, doc_status, forced) in enumerate(rows):
            if block_id >= 0:
                norm = recognize_block(text, lang)
                if norm:
                    parts.append((block_id, lang, norm))
                    any_forced = any_forced or forced
                continue
            if doc_status:
                status = doc_status  # error:<ExcName> rows pass through
            elif any_forced:
                status = "fallback"  # parts exist only via the O5 ladder
            else:
                status = "ok" if parts else "empty"
            text_out, spans = assemble(parts)
            results.append(
                ExtractResult("", text_out, spans, doc_nb, len(parts), status)
            )
            src.append(i)
            parts = []
            any_forced = False
        if results:
            take = pa.array(src, pa.int32())
            yield _extracted_batch(
                pc.take(b.column("url"), take), pc.take(b.column("warc_ts"), take),
                results, {},
            )


def make_extract_fused_arrow(fallback: bool = False):
    """Build the fused stage fn; ``fallback=True`` enables the O5 ladder.

    Input columns other than ``url/warc_ts/html/lang`` pass through
    unchanged after the core schema columns (the coverage query carries
    ``n_crawl`` this way)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            pages = zip(*(b.column(c).to_pylist() for c in ("url", "html", "lang")))
            results = [extract_document(u, h, l, fallback) for u, h, l in pages]
            extra = {n: b.column(n) for n in b.schema.names if n not in _PAGE_COLS}
            yield _extracted_batch(b.column("url"), b.column("warc_ts"), results, extra)

    return fn
