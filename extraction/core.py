"""Per-document orchestrator — the single-doc oracle the Spark stages must
match byte-for-byte.

Analog of the reference's per-page pipeline ``_process_one_page``
(``bilingual_ocr.py:126-211``) and its English composition
``recognize_english_page`` (``english_ocr_pipeline.py:127-191``):
detect candidate regions → threshold → per-region script routing →
recognize/normalize → reading-order reassembly with ``"\\n".join``
(``bilingual_ocr.py:461``). Errors never propagate as exceptions; they become
``status='error:<ExcName>'`` rows (ref skip-don't-crash,
``bilingual_ocr.py:240-243``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from extraction.html_clean import decode_html
from extraction.normalize import normalize_text
from extraction.routing import block_route, doc_route
from extraction.segment import Block, segment_blocks


@dataclass(frozen=True)
class Span:
    block_id: int
    start: int
    end: int
    lang: str


@dataclass(frozen=True)
class ExtractResult:
    url: str
    extracted_text: str
    spans: list[Span] = field(default_factory=list)
    n_blocks: int = 0
    n_kept: int = 0
    status: str = "ok"


def recognize_block(text: str, route: str) -> str:
    """Stage-2 unit: one raw block text → normalized text for its route."""
    return normalize_text(text, route)


def assemble(parts: list[tuple[int, str, str]]) -> tuple[str, list[Span]]:
    """Reading-order reassembly (ref ``bilingual_ocr.py:461`` ``"\\n".join``):
    ``(block_id, route, norm_text)`` parts, in block order → the document
    text and one span per part. Offsets are a prefix sum over the part
    lengths plus one ``'\\n'`` joiner between parts."""
    spans: list[Span] = []
    pos = 0
    for block_id, route, norm in parts:
        end = pos + len(norm)
        spans.append(Span(block_id, pos, end, route))
        pos = end + 1  # +1 for the '\n' joiner
    return "\n".join(p[2] for p in parts), spans


def best_block(blocks: list[Block]) -> Block | None:
    """The relaxed-pass winner: highest score, ties to the lowest block_id.

    The deterministic web recast of the reference's empty-result retry ladder
    (O5): YOLO→OpenCV fallback detector (``text_detection_yolov8.py:182-209``)
    and the detect→full-page-English fallback (``bilingual_ocr.py:108-123``).
    Score is informational-float but computed identically everywhere (pure
    Python, same function), so the argmax is stable."""
    if not blocks:
        return None
    return max(blocks, key=lambda b: (b.score, -b.block_id))


def extract_document(
    url: str, html: bytes | str, lang: str | None, fallback: bool = False
) -> ExtractResult:
    """Extract main content from one page. Never raises.

    ``fallback=True`` enables the O5 relaxed second pass: when every block
    fails the keep rule (short-paragraph pages are common on real crawls),
    the best-scoring block is kept unconditionally and the row is emitted
    with ``status='fallback'`` instead of giving up with ``'empty'``."""
    try:
        raw = decode_html(html) if isinstance(html, (bytes, bytearray)) else (html or "")
        blocks = segment_blocks(raw)
        n_blocks = len(blocks)
        droute = doc_route(lang)

        parts: list[tuple[int, str, str]] = []  # (block_id, route, norm_text)
        for b in blocks:
            if not b.kept:
                continue
            route = droute if droute is not None else block_route(b.text)
            norm = recognize_block(b.text, route)
            if norm:
                parts.append((b.block_id, route, norm))

        status = "ok"
        if not parts:
            # The relaxed pass triggers on the DETECT-level condition "no
            # block passed the keep rule" (ref: "no regions detected"), not
            # on the post-normalization outcome — the staged pipeline decides
            # `forced` in stage 1, before norms exist, and the two paths must
            # agree byte-for-byte. A doc whose kept blocks all normalize to
            # empty therefore stays 'empty' in both.
            if fallback and not any(b.kept for b in blocks):
                best = best_block(blocks)
                if best is not None:
                    route = droute if droute is not None else block_route(best.text)
                    norm = recognize_block(best.text, route)
                    if norm:
                        parts.append((best.block_id, route, norm))
                        status = "fallback"
            if not parts:
                return ExtractResult(url, "", [], n_blocks, 0, "empty")

        text, spans = assemble(parts)
        return ExtractResult(url, text, spans, n_blocks, len(parts), status)
    except Exception as exc:  # noqa: BLE001 — error rows, not exceptions
        return ExtractResult(url, "", [], 0, 0, f"error:{type(exc).__name__}")
