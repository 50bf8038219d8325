"""The workloads: generated inputs, the oracle, the call sequence of
``engine/run_pipeline.py`` and the checks of what it committed.

Every workload feeds ``fixtures.gen_pages.gen_rows(n, seed)`` pages through
the same calls the pipeline CLI makes (read pages, ``tableio.remaining``,
``pipeline.detect`` + blocks write, ``pipeline.run_extract``, staging
``tableio.write_table``, ``tableio.merge_by_url``, ``tableio.write_lineage``,
``metrics.partition_metrics``). The oracle is ``extraction.extract_document``
(and ``extraction.segment_blocks`` for the blocks table), run in this process
on the same generated rows.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import random
import shutil
import time
import uuid
from dataclasses import dataclass

import pyarrow.dataset as pads
from engine import metrics as M
from engine import pipeline, tableio
from extraction import decode_html, extract_document, route_lang, segment_blocks
from fixtures.gen_pages import gen_rows, write_parquet

# Input files per pages table: two per core of the 4-core reference host, so
# the scan splits into enough tasks for the giant pages to spread out.
INPUT_FILES = 8


@dataclass(frozen=True)
class Spec:
    name: str
    mode: str          # pipeline.run_extract mode
    emit_blocks: bool  # --emit-blocks: detect + blocks table write
    resume: bool       # --resume into a populated table
    docs: int          # pages in the crawl
    new_docs: int      # pages added by the recrawl (resume only)


SPECS = {
    s.name: s
    for s in (
        Spec("blocks_staged", "staged", True, False, 320, 0),
        Spec("recrawl_merge", "fused", False, True, 400, 40),
    )
}

LOOKUPS_PER_KIND = 5


def scaled(spec: Spec) -> Spec:
    """PIPEBENCH_DOCS shrinks the corpus (the benchmark's own tests use it)."""
    n = os.environ.get("PIPEBENCH_DOCS")
    if not n:
        return spec
    return dataclasses.replace(spec, docs=int(n),
                               new_docs=max(1, int(n) // 10) if spec.resume else 0)


def _us(ts) -> int:
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=dt.timezone.utc)
    return int(ts.timestamp() * 1_000_000)


def oracle_row(r: dict) -> dict:
    res = extract_document(r["url"], r["html"], r["lang"])
    return {
        "url": res.url,
        "warc_ts": _us(r["warc_ts"]),
        "extracted_text": res.extracted_text,
        "spans": [(s.block_id, s.start, s.end, s.lang) for s in res.spans],
        "n_blocks": res.n_blocks,
        "n_kept": res.n_kept,
        "status": res.status,
    }


def oracle_blocks(r: dict) -> list[tuple]:
    """Rows ``pipeline.detect`` must emit for one page: every block, then the
    document's sentinel (block_id -1)."""
    blocks = segment_blocks(decode_html(r["html"]))
    out = [
        (r["url"], b.block_id, b.tag, b.text, b.n_chars, b.n_link_chars,
         b.n_tags, b.link_density, b.tag_density, b.score,
         route_lang(b.text, r["lang"]), len(blocks))
        for b in blocks
    ]
    out.append((r["url"], -1, "", "", 0, 0, 0, 0.0, 0.0, 0.0, "", len(blocks)))
    return out


class Inputs:
    """Generated pages for one workload and seed, written under ``root``."""

    def __init__(self, spec: Spec, seed: int, root: str):
        total = spec.docs + spec.new_docs
        # gen_rows draws from one generator in doc order, so the first
        # `docs` rows of the union are exactly the previous crawl
        self.rows = gen_rows(total, seed)
        self.crawl = os.path.join(root, "pages")
        write_parquet(self.rows, self.crawl, files=INPUT_FILES)
        if spec.resume:
            self.base = os.path.join(root, "pages_base")
            write_parquet(self.rows[: spec.docs], self.base, files=INPUT_FILES)
        # warm-up pages; another seed, so they do not pre-touch the corpus
        self.tiny = os.path.join(root, "tiny_pages")
        write_parquet(gen_rows(16, seed + 1_000_003), self.tiny, files=4)
        rng = random.Random(seed)
        if spec.resume:
            old = [r["url"] for r in self.rows[: spec.docs]]
            new = [r["url"] for r in self.rows[spec.docs :]]
            hits = rng.sample(old, min(LOOKUPS_PER_KIND, len(old))) + rng.sample(
                new, min(LOOKUPS_PER_KIND, len(new)))
        else:
            urls = [r["url"] for r in self.rows]
            hits = rng.sample(urls, min(2 * LOOKUPS_PER_KIND, len(urls)))
        misses = [f"https://absent{rng.randrange(10**6):06d}.example/p/{i}"
                  for i in range(LOOKUPS_PER_KIND)]
        self.lookups = hits + misses
        rng.shuffle(self.lookups)


def run_sequence(spark, tracer, spec: Spec, pages_path: str, out: str,
                 run_id: str, probe=None) -> None:
    """The call sequence of ``engine/run_pipeline.py`` for a parquet input
    (``--mode``, ``--emit-blocks``, ``--resume`` as in ``spec``), each call
    in its own span. ``probe(when, out, staging)``, when given, is called
    just before and just after the merge."""
    span = tracer.span
    with span("scan.read_pages"):
        pages = spark.read.parquet(pages_path)
    if spec.resume:
        with span("tableio.remaining"):
            pages = tableio.remaining(pages, out)
    t0 = time.monotonic()
    if spec.emit_blocks:
        with span("pipeline.detect"):
            blocks = pipeline.detect(pages)
        with span("tableio.blocks_write"):
            tableio.write_table(blocks, f"{out}_blocks")
    with span("pipeline.run_extract"):
        extracted = pipeline.run_extract(pages, mode=spec.mode, run_id=run_id)
    staging = f"{out}.staging-{uuid.uuid4().hex[:8]}"
    with span("tableio.stage_write"):
        tableio.write_table(extracted, staging)
    if probe is not None:
        probe("before_merge", out, staging)
    try:
        with span("tableio.merge"):
            tableio.merge_by_url(spark, out, tableio.read_table(spark, staging))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    if probe is not None:
        probe("after_merge", out, staging)
    wall_ms = int((time.monotonic() - t0) * 1000)
    with span("tableio.lineage"):
        tableio.write_lineage(spark, out, run_id)
    with span("metrics.partition_metrics"):
        final = spark.read.parquet(out)
        tableio.write_table(M.partition_metrics(final, run_id, wall_ms),
                            f"{out}_metrics")
        final.count()


def lookup(spark, tracer, table: str, url: str) -> list:
    with tracer.span("tableio.read_url"):
        df = tableio.read_url(spark, table, url)
        return [] if df is None else df.collect()


# --- checks -----------------------------------------------------------------

_CORE = ("url", "warc_ts", "extracted_text", "spans", "n_blocks", "n_kept", "status")


def _table_rows(path: str, columns) -> list[dict]:
    data = pads.dataset(path, format="parquet", partitioning="hive")
    return data.to_table(columns=list(columns)).to_pylist()


def _norm(row: dict) -> dict:
    out = {k: row[k] for k in _CORE}
    out["warc_ts"] = _us(row["warc_ts"])
    out["spans"] = [(s["block_id"], s["start"], s["end"], s["lang"])
                    for s in (row["spans"] or [])]
    out["extracted_text"] = row["extracted_text"] or ""
    return out


def check_table(path: str, expected: dict, lineage: dict) -> list[str]:
    """Differences between the committed table and the oracle rows
    (``expected``: url -> row); ``lineage`` (url -> run id) pins which run
    wrote each row. Returns [] when they agree."""
    errors: list[str] = []
    seen: set[str] = set()
    for row in _table_rows(path, _CORE + ("lineage",)):
        url = row["url"]
        if url in seen:
            errors.append(f"duplicate url {url}")
        seen.add(url)
        want = expected.get(url)
        if want is None:
            errors.append(f"unexpected url {url}")
        elif _norm(row) != want:
            errors.append(f"row differs from oracle: {url}")
        if want is not None and lineage[url] != row["lineage"]:
            errors.append(f"{url} written by {row['lineage']}, want {lineage[url]}")
    for url in expected.keys() - seen:
        errors.append(f"missing url {url}")
    return errors[:20]


_BLOCK_COLS = ("url", "block_id", "tag", "text", "n_chars", "n_link_chars",
               "n_tags", "link_density", "tag_density", "score", "lang",
               "doc_n_blocks")


def check_blocks(path: str, expected: list[tuple]) -> list[str]:
    got = sorted(tuple(r[c] for c in _BLOCK_COLS)
                 for r in _table_rows(path, _BLOCK_COLS))
    if got == expected:
        return []
    if len(got) != len(expected):
        return [f"blocks table has {len(got)} rows, oracle {len(expected)}"]
    bad = next(i for i, (a, b) in enumerate(zip(got, expected)) if a != b)
    return [f"blocks row differs from oracle: {expected[bad][:2]}"]


def check_lookup(rows: list, want: dict | None) -> list[str]:
    if want is None:
        return [f"lookup of an absent url returned {len(rows)} rows"] if rows else []
    if len(rows) != 1:
        return [f"lookup of {want['url']} returned {len(rows)} rows"]
    if _norm(rows[0].asDict(recursive=True)) != want:
        return [f"lookup of {want['url']} differs from oracle"]
    return []
