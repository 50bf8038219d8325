"""One benchmark run as a Spark driver; started by ``run.py`` (see there).

Order of a run:

1. record the host;
2. start the JVM and the session while a thread generates the workload's
   pages from ``--seed`` and computes the oracle rows;
3. warm-up: ``recrawl_merge`` writes the previous crawl (a clean run of the
   call sequence), ``blocks_staged`` runs the call sequence once on 16 pages
   outside the corpus;
4. closed loop with one client: iterations of the call sequence over the
   whole corpus, each into a fresh table, until ``--seconds`` of timed
   iterations are done; every iteration is checked against the oracle after
   its clock stops;
5. ``--trace 1``: the traced part (see ``Run._trace``);
6. ``setup_s``: five session rebuilds -- stop, then ``get_spark()`` -- and
   their median;
7. print the host line and the result line.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

import procs

WORK = os.environ.get("PIPEBENCH_WORK", "")
HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 5
SCAN_REPEATS = 3
_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"pipebench: {time.monotonic() - _T0:6.1f} s {msg}", file=sys.stderr, flush=True)

# name -> unit; BENCHMARK.json lists the same names (checked by the tests)
END_TO_END = {
    "docs_per_s": "1/s",
    "py_worker_peak_rss_mb": "MB",
    "setup_s": "s",
}
PER_LAYER = {
    "session.setup_s": "s",
    "scan.s": "s",
    "scan.bytes_read": "bytes",
    "stages.arrow_passthrough_s": "s",
    "stages.python_boot_s": "s",
    "stages.python_init_s": "s",
    "stages.python_total_s": "s",
    "stages.python_bytes_sent": "bytes",
    "stages.python_bytes_received": "bytes",
    "stages.python_nodes": "count",
    "stages.task_skew": "ratio",
    "extraction.decode_us_per_doc": "us",
    "extraction.segment_us_per_doc": "us",
    "extraction.route_us_per_doc": "us",
    "extraction.normalize_us_per_doc": "us",
    "extraction.assemble_us_per_doc": "us",
    "extraction.docs_per_core_s": "1/s",
    "extraction.blocks_per_doc": "count",
    "extraction.keep_ratio": "ratio",
    "extraction.empty_docs": "count",
    "tableio.stage_write_s": "s",
    "tableio.blocks_write_s": "s",
    "tableio.remaining_s": "s",
    "tableio.merge_s": "s",
    "tableio.lineage_s": "s",
    "tableio.merge_buckets_rewritten": "count",
    "tableio.merge_write_amp": "ratio",
    "tableio.lookup_ms": "ms",
    "tableio.lookup_files_read": "count",
    "metrics.partition_metrics_s": "s",
    "pipeline.shuffle_bytes": "bytes",
    "pipeline.failed_ratio": "ratio",
    "pipeline.cpu_s_per_kdoc": "s",
    "scaling.efficiency": "ratio",
    "trace.overhead_ratio": "ratio",
}


class Session:
    """The engine's SparkSession (``engine.session.get_spark``) with all its
    scratch inside the run directory; rebuilt on request."""

    def __init__(self):
        self.spark = None

    def build(self, event_log: str | None = None) -> float:
        """(Re)build the session; returns the seconds ``get_spark()`` took."""
        from engine.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.path.join(WORK, "local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="pipebench", extra_conf=conf)
        return time.perf_counter() - t0

    def start_workers(self, pages: str, mode: str) -> None:
        """Start the pyspark daemon and workers of a fresh session with a
        small extraction pass, so the next timed call does not pay it."""
        from engine import pipeline

        pipeline.run_extract(self.spark.read.parquet(pages), mode=mode) \
            .write.format("noop").mode("overwrite").save()

    def close(self) -> None:
        """Stop Spark, then close the JVM's stdin (it exits on EOF) and wait
        for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        SparkContext._gateway = None
        SparkContext._jvm = None
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=30)


class RssWatch:
    """Largest VmHWM of any pyspark worker while the block runs (polled)."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def __enter__(self):
        for pid in procs.python_workers(os.getpid()):
            procs.reset_peak_rss(pid)
        self._thread.start()
        return self

    def _poll(self):
        while True:
            for pid in procs.python_workers(os.getpid()):
                self.peak_mb = max(self.peak_mb, procs.peak_rss_mb(pid))
            if self._stop.wait(0.5):
                return

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def host_record() -> dict:
    import pyarrow
    import pyspark

    loadavg = os.getloadavg()
    times = []
    for _ in range(3):  # fixed single-core pure-Python work, best of three
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append(time.perf_counter() - t0)
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": loadavg,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "calibration_s": min(times),
    }


def _cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _buckets(table: str) -> dict:
    """{bucket dir -> (inode, bytes)}; a rewritten bucket gets a new inode."""
    if not os.path.isdir(table):
        return {}
    return {
        d: (os.stat(os.path.join(table, d)).st_ino, _dir_bytes(os.path.join(table, d)))
        for d in os.listdir(table) if d.startswith("bucket=")
    }


class Run:
    def __init__(self, args):
        import workload

        self.args = args
        self.W = workload
        self.spec = workload.scaled(workload.SPECS[args.workload])
        self.sess = Session()
        self.tables = os.path.join(WORK, "tables")
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.last_table = ""

    def _oracle(self):
        W = self.W
        self.expected = {r["url"]: W.oracle_row(r) for r in self.inputs.rows}
        self.expected_blocks = []
        if self.spec.emit_blocks:
            for r in self.inputs.rows:
                self.expected_blocks += W.oracle_blocks(r)
            self.expected_blocks.sort()

    def _iteration(self, tracer, tag: str, pages: str, expected: dict,
                   base: str | None = None, old: frozenset = frozenset(),
                   probe=None) -> tuple[float, float]:
        """Run the call sequence into a fresh table -- a copy of ``base``
        (holding the urls ``old``) when resuming -- and check what it
        committed. Returns (wall s, process-tree CPU s) of the sequence."""
        out = os.path.join(self.tables, tag, "extracted")
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        os.makedirs(os.path.dirname(out))
        if base is not None:
            shutil.copytree(base, out)
        cpu0 = procs.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        with tracer.span("iteration"):
            self.W.run_sequence(self.sess.spark, tracer, self.spec, pages, out, tag, probe)
        wall = time.perf_counter() - t0
        cpu = procs.tree_cpu_s(os.getpid()) - cpu0
        lineage = {u: ("base" if u in old else tag) for u in expected}
        self.errors += self.W.check_table(out, expected, lineage)
        if self.spec.emit_blocks and expected is self.expected:
            self.errors += self.W.check_blocks(f"{out}_blocks", self.expected_blocks)
        if self.last_table.startswith(os.path.join(self.tables, "it")):
            shutil.rmtree(os.path.dirname(self.last_table), ignore_errors=True)
        self.last_table = out
        return wall, cpu

    def _lookups(self, tracer) -> list[float]:
        lat = []
        for url in self.inputs.lookups:
            t0 = time.perf_counter()
            rows = self.W.lookup(self.sess.spark, tracer, self.last_table, url)
            lat.append((time.perf_counter() - t0) * 1000)
            self.errors += self.W.check_lookup(rows, self.expected.get(url))
        return lat

    def run(self) -> dict:
        from spans import Tracer

        args, spec, W = self.args, self.spec, self.W
        fault = os.environ.get("PIPEBENCH_FAULT", "")
        self.host = host_record()
        prepared = []

        def prepare():  # runs while the JVM starts
            self.inputs = W.Inputs(spec, args.seed, os.path.join(WORK, "inputs"))
            self._oracle()
            prepared.append(True)

        worker = threading.Thread(target=prepare)
        worker.start()
        try:
            self.sess.build()
        finally:
            worker.join()
        if not prepared:
            raise RuntimeError("generating the inputs or the oracle failed")
        log(f"session up, inputs and oracle ready; host {self.host}")
        if fault == "wrong":
            url = next(iter(self.expected))
            self.expected[url] = {**self.expected[url], "status": "tampered"}
        self.host["java"] = self.sess.spark._jvm.System.getProperty("java.version")
        off = Tracer(self.sess.spark.sparkContext, enabled=False)

        base, old = None, frozenset()
        if spec.resume:  # the previous crawl, which every timed run resumes
            old = frozenset(r["url"] for r in self.inputs.rows[: spec.docs])
            base = os.path.join(self.tables, "base", "extracted")
            os.makedirs(os.path.dirname(base))
            clean = dataclasses.replace(spec, resume=False)
            W.run_sequence(self.sess.spark, off, clean, self.inputs.base, base, "base")
            self.errors += W.check_table(base, {u: self.expected[u] for u in old},
                                         dict.fromkeys(old, "base"))
            log("base table written")
        else:  # one pass of the sequence on the 16 pages outside the corpus
            warm = os.path.join(self.tables, "warm", "extracted")
            os.makedirs(os.path.dirname(warm))
            W.run_sequence(self.sess.spark, off, spec, self.inputs.tiny, warm, "warm")
            shutil.rmtree(os.path.dirname(warm))
            log("warm pass done")
        if fault == "raise":
            raise RuntimeError("injected failure (PIPEBENCH_FAULT=raise)")
        if fault == "hang":
            time.sleep(3600)
        docs = len(self.expected) - len(old)
        n_error = sum(1 for u, r in self.expected.items()
                      if u not in old and r["status"].startswith("error"))

        walls, cpus, raised = [], [], 0
        budget = args.seconds if not args.trace else 0
        with RssWatch() as rss:
            while not walls or sum(walls) < budget:
                self.attempted += docs
                try:
                    wall, cpu = self._iteration(off, f"it{len(walls) + raised}",
                                                self.inputs.crawl, self.expected, base, old)
                except Exception:  # noqa: BLE001 -- a raising run loses its docs
                    traceback.print_exc()
                    self.failed += docs
                    raised += 1
                    if raised >= 2:
                        raise
                    continue
                self.failed += n_error
                log(f"iteration {wall:.2f} s")
                walls.append(wall)
                cpus.append(cpu)
        m = {
            "docs_per_s": statistics.median(docs / w for w in walls),
            "py_worker_peak_rss_mb": rss.peak_mb,
        }
        setup = [self.sess.build() for _ in range(SETUP_REPEATS)]
        m["setup_s"] = self.setup_s = statistics.median(setup)
        log(f"set-up builds {[round(x, 3) for x in setup]}")
        if not args.trace:
            return {k: m[k] for k in END_TO_END}
        return self._trace(base, old, walls[-1], docs / walls[-1],
                           cpus[-1] / docs * 1000)

    def _trace(self, base, old, untraced_wall: float, docs_per_s: float,
               cpu_s_per_kdoc: float) -> dict:
        import layers
        import spans
        from spans import Tracer

        log_dir = os.path.join(WORK, "eventlog")
        self.sess.build(event_log=log_dir)
        self.sess.start_workers(self.inputs.tiny, self.spec.mode)
        tracer = Tracer(self.sess.spark.sparkContext, enabled=True)
        seen = {}

        def probe(when, out, staging):
            if when == "before_merge":
                seen["staging_bytes"] = _dir_bytes(staging)
            seen[when] = _buckets(out)

        traced_wall, _ = self._iteration(tracer, "traced", self.inputs.crawl,
                                         self.expected, base, old, probe)
        quiet = Tracer(self.sess.spark.sparkContext, enabled=False)
        for url in self.inputs.lookups[:3]:  # first calls compile the path
            self.W.lookup(self.sess.spark, quiet, self.last_table, url)
        lookup_ms = statistics.median(self._lookups(tracer))
        for _ in range(SCAN_REPEATS):
            with tracer.span("scan.noop"):
                layers.scan_pass(self.sess.spark, self.inputs.crawl)
        for _ in range(SCAN_REPEATS):
            with tracer.span("stages.passthrough"):
                layers.passthrough_pass(self.sess.spark, self.inputs.crawl)
        self.sess.close()  # flushes the event log
        stats = spans.read_event_log(log_dir)
        replay, errors = layers.replay(self.inputs.rows, self.expected)
        self.errors += errors

        def total(name):
            return sum(tracer.wall(name))

        def over(*names):
            return spans.merge(stats, [i for n in names for i in tracer.ids(n)])

        iteration = tracer.ids("iteration")[0]
        whole = spans.merge(stats, [s["id"] for s in tracer.spans
                                    if s["parent"] == iteration])
        extract = over("tableio.stage_write", "tableio.blocks_write")
        before, after = seen.get("before_merge", {}), seen["after_merge"]
        rewritten = [b for b, (ino, _) in after.items()
                     if before.get(b, (None, 0))[0] != ino]
        m = {
            "session.setup_s": self.setup_s,
            "scan.s": statistics.median(tracer.wall("scan.noop")),
            "scan.bytes_read": over("scan.noop").sql[spans.FILE_BYTES] / SCAN_REPEATS,
            "stages.arrow_passthrough_s": statistics.median(tracer.wall("stages.passthrough")),
            "stages.python_boot_s": whole.sql[spans.PY_BOOT] / 1e3,
            "stages.python_init_s": whole.sql[spans.PY_INIT] / 1e3,
            "stages.python_total_s": whole.sql[spans.PY_TOTAL] / 1e3,
            "stages.python_bytes_sent": whole.sql[spans.PY_SENT],
            "stages.python_bytes_received": whole.sql[spans.PY_RECV],
            "stages.python_nodes": whole.python_nodes,
            "stages.task_skew": over("tableio.stage_write").skew(),
            "tableio.stage_write_s": total("tableio.stage_write"),
            "tableio.blocks_write_s": total("tableio.blocks_write"),
            "tableio.remaining_s": total("tableio.remaining"),
            "tableio.merge_s": total("tableio.merge"),
            "tableio.lineage_s": total("tableio.lineage"),
            "tableio.merge_buckets_rewritten": len(rewritten),
            "tableio.merge_write_amp": sum(after[b][1] for b in rewritten)
            / max(1, seen["staging_bytes"]),
            "tableio.lookup_ms": lookup_ms,
            "tableio.lookup_files_read": over("tableio.read_url").sql[spans.FILES_READ]
            / len(self.inputs.lookups),
            "metrics.partition_metrics_s": total("metrics.partition_metrics"),
            "pipeline.shuffle_bytes": extract.shuffle_write_bytes,
            "pipeline.failed_ratio": self.failed / self.attempted,
            "pipeline.cpu_s_per_kdoc": cpu_s_per_kdoc,
            "scaling.efficiency": docs_per_s / (_cores() * replay["extraction.docs_per_core_s"]),
            "trace.overhead_ratio": traced_wall / untraced_wall,
            **replay,
        }
        os.makedirs(os.path.join(HERE, "_traces"), exist_ok=True)
        path = os.path.join(HERE, "_traces", f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"host": self.host, "spans": tracer.spans, "metrics": m}, f, indent=1)
        return {k: m[k] for k in PER_LAYER}


def _on_sigterm(signum, _frame):
    raise SystemExit(128 + signum)


def main() -> int:
    import workload

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workload.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    procs.become_subreaper()
    signal.signal(signal.SIGTERM, _on_sigterm)
    run = Run(args)
    try:
        metrics = run.run()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        try:
            run.sess.close()
        finally:
            procs.kill_tree(os.getpid())
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    for e in run.errors:
        print(f"pipebench: WRONG OUTPUT: {e}", file=sys.stderr)
    print(json.dumps({"host": run.host}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 -- any failure: no result line
        traceback.print_exc()
        sys.exit(2)
