"""Benchmark entry point.  From the root of a checkout:

    python3 perfbench/run.py --workload {ingest,query,dedup} --seed N \\
        --seconds S --trace {0,1}

Starts ``worker.py`` in its own session with a pinned engine configuration
(``local[4]``, 2 GB driver, one BLAS thread per process, every Spark and
temp directory under ``.perfbench/`` in the checkout),
samples the RSS of its whole process tree (driver Python, JVM, Python
workers), and after the worker exits stops anything left in its session and
waits for it.  The last stdout line is the JSON result; the traced run's
``session.peak_rss_mb`` is added to its per-layer metrics here.  Exits
non-zero, printing no result, when the worker fails or the checkout has no
engine sources.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKER_TIMEOUT_S = 170
CPUS = "4"
#: peak RSS varies by a third between runs of one workload (JVM heap
#: growth), too much for an end-to-end bound, so only the traced run
#: reports it
RSS_METRIC = "session.peak_rss_mb"


def _proc_stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name
    return raw[raw.rindex(")") + 2 :].split()


def session_pids(sid: int) -> list[int]:
    """Live processes whose session id is ``sid``."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st and int(st[3]) == sid and st[0] != "Z":
                out.append(int(pid))
    return out


def rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Polls the summed RSS of a session's processes; keeps the peak."""

    def __init__(self, sid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.sid, self.period = sid, period
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, rss_bytes(session_pids(self.sid)))
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def reap_session(sid: int, grace: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, whatever is left in the session; wait until
    nothing is."""
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 30.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + wait
        while session_pids(sid) and time.time() < end:
            time.sleep(0.1)
    if session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "query", "dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "vectordb_light_spark", "engine.py")):
        print("perfbench: run from the root of a checkout with the engine sources "
              "(vectordb_light_spark/ not found)", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", work, "--t0", repr(T0),
    ]
    proc = subprocess.Popen(cmd, env=env, cwd=root, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
        out = None
    finally:
        sampler.stop()
        reap_session(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = (out or "").rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except (json.JSONDecodeError, IndexError):
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        sys.stderr.write(out or "")
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1

    peak_mb = sampler.peak / 2**20
    if args.trace:
        result["metrics"][RSS_METRIC] = {"value": peak_mb, "unit": "MB"}
    print("\n".join(lines[:-1]))
    print(f"{RSS_METRIC} = {peak_mb:.6g} MB")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
