"""Benchmark command: one workload of the extraction pipeline, one JSON line.

    python3 pipebench/run.py --workload blocks_staged --seed 1 --seconds 10 --trace 0

Run from the repository root. This process is only a supervisor: it starts
``measure.py`` (the Spark driver) in its own session, relays its standard
output, and makes sure that nothing the measurement started outlives the
command -- on success, on a wrong output, on an exception, on SIGTERM and
at the supervisor's own deadline. It is a child subreaper, so the JVM, the
pyspark daemon and every Python worker are re-parented to it if their parent
dies, and it kills and reaps all of them before it returns. The scratch
directory of the run (inputs, tables, Spark local dirs) is removed too.

Exit status: 0 when the run completed and every output was correct; 1 on a
wrong output; 2 on any other failure (the result line is then not printed).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import subprocess
import sys
import time

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# With the clean-up after it, well below the 180 s a caller allows a run:
# the supervisor, not the caller, stops an overlong run, so it can still
# clean up after it.
DEADLINE_S = float(os.environ.get("PIPEBENCH_DEADLINE_S", "150"))


class _Stop(Exception):
    pass


def _on_signal(signum, _frame):
    raise _Stop(f"signal {signum}")


def main() -> int:
    procs.become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)
    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PIPEBENCH_WORK=work,
        TZ="UTC",
        # local[N] with N the usable cores unless the caller chose N
        SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS")
        or str(len(os.sched_getaffinity(0))),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        # JVM scratch (java.io.tmpdir, hsperfdata) stays inside the run dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    )
    child = None
    out = b""
    code = 2
    try:
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "measure.py"), *sys.argv[1:]],
            cwd=ROOT,
            env=env,
            stdout=subprocess.PIPE,
            start_new_session=True,
            preexec_fn=procs.die_with_parent,
        )
        out, _ = child.communicate(timeout=DEADLINE_S)
        code = child.returncode
    except subprocess.TimeoutExpired:
        print(f"pipebench: deadline of {DEADLINE_S:.0f} s reached", file=sys.stderr)
    except _Stop as exc:
        print(f"pipebench: stopped by {exc}", file=sys.stderr)
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)  # let the clean-up finish
        if child is not None and child.poll() is None:
            child.terminate()  # lets measure.py stop Spark in order
            try:
                child.wait(timeout=10)
            except subprocess.TimeoutExpired:
                pass
        left = procs.kill_tree(os.getpid())
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(work))
    if left:
        print(f"pipebench: processes would not die: {left}", file=sys.stderr)
        return 2
    text = out.decode("utf-8", "replace")
    lines = text.splitlines()
    if code in (0, 1) and lines and lines[-1].startswith('{"correct"'):
        sys.stdout.write(text)
        return code
    # failed run: show its output as diagnostics, never as a result line
    sys.stderr.write(text)
    return 2


if __name__ == "__main__":
    start = time.monotonic()
    rc = main()
    print(f"pipebench: exit {rc} after {time.monotonic() - start:.1f} s", file=sys.stderr)
    sys.exit(rc)
