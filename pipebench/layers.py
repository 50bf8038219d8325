"""Isolating passes for the per-layer numbers.

- ``replay``: a single-core run of the public ``extraction`` calls on every
  generated page, timed per step (decode, segment, route, normalize,
  assemble). It must rebuild exactly the oracle's rows.
- ``scan_pass``: the pages scan alone, into Spark's noop sink.
- ``passthrough_pass``: the same scan through an identity ``mapInArrow``
  over the columns the extraction stages receive -- the Arrow hand-off into
  a Python worker and back, with no extraction body.
"""

from __future__ import annotations

import time

from extraction import decode_html, normalize_text, route_lang, segment_blocks

STEPS = ("decode", "segment", "route", "normalize", "assemble")
PAGE_COLS = ("url", "warc_ts", "html", "lang")


def replay(rows: list[dict], want: dict) -> tuple[dict, list[str]]:
    """Per-step single-core timings and counts, plus any row that differs
    from the oracle rows in ``want`` (url -> row, as workload.oracle_row)."""
    clock = time.perf_counter
    spent = dict.fromkeys(STEPS, 0.0)
    n_blocks = n_kept = empty = 0
    errors: list[str] = []
    for r in rows:
        t0 = clock()
        raw = decode_html(r["html"])
        t1 = clock()
        blocks = segment_blocks(raw)
        t2 = clock()
        kept = [b for b in blocks if b.kept]
        routes = [route_lang(b.text, r["lang"]) for b in kept]
        t3 = clock()
        norms = [normalize_text(b.text, rt) for b, rt in zip(kept, routes)]
        t4 = clock()
        spans, texts, pos = [], [], 0
        for b, rt, norm in zip(kept, routes, norms):
            if norm:
                spans.append((b.block_id, pos, pos + len(norm), rt))
                texts.append(norm)
                pos += len(norm) + 1
        text = "\n".join(texts)
        t5 = clock()
        for step, dt in zip(STEPS, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4)):
            spent[step] += dt
        n_blocks += len(blocks)
        n_kept += len(spans)
        empty += not spans
        w = want[r["url"]]
        got = (text, spans, len(blocks), len(spans), "ok" if spans else "empty")
        if got != (w["extracted_text"], w["spans"], w["n_blocks"], w["n_kept"], w["status"]):
            errors.append(f"replay differs from oracle: {r['url']}")
    n = len(rows)
    total = sum(spent.values())
    out = {f"extraction.{s}_us_per_doc": spent[s] / n * 1e6 for s in STEPS}
    out["extraction.docs_per_core_s"] = n / total
    out["extraction.blocks_per_doc"] = n_blocks / n
    out["extraction.keep_ratio"] = n_kept / n_blocks if n_blocks else 0.0
    out["extraction.empty_docs"] = empty
    return out, errors[:20]


def _pages(spark, path: str):
    return spark.read.parquet(path).select(*PAGE_COLS)


def scan_pass(spark, path: str) -> None:
    _pages(spark, path).write.format("noop").mode("overwrite").save()


def passthrough_pass(spark, path: str) -> None:
    def identity(batches):
        yield from batches

    df = _pages(spark, path)
    df.mapInArrow(identity, schema=df.schema).write.format("noop").mode(
        "overwrite").save()
