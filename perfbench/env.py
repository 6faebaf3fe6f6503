"""The run's sandbox: work directory, resource guards and the Spark session.

Guards for a small shared box:
- driver heap through the engine's own ``SPARK_GRAFT_DRIVER_MEM`` (its
  default is 48g);
- Spark scratch, JVM temp files and Python temp files all go to a work
  directory on disk inside the checkout, never to ``/dev/shm`` or ``/tmp``;
- the checkout root is put on the Python workers' ``PYTHONPATH``;
- the work directory is deleted and the Spark JVM is stopped and waited for
  on every exit path, failures and SIGTERM included.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

DRIVER_MEM = "1g"
YOUNG_GEN = "256m"
SLOTS = 2  # one JVM thread + one Arrow worker per slot: 2 slots ~ 4 cores busy


def _hwm_kb(pid: int | str) -> int:
    """VmHWM (peak resident set) of a process, in kB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class BenchEnv:
    def __init__(self, root: Path, trace: bool):
        self.root = root
        self.trace = trace
        self.work = root / ".perfbench_work" / f"run-{os.getpid()}"
        self.spark = None
        self.jvm_hwm_kb = 0
        self._prev_sigterm = None

    # ---- lifetime

    def __enter__(self) -> "BenchEnv":
        if self.work.exists():
            shutil.rmtree(self.work)
        for sub in ("tmp", "jtmp", "local", "htmp"):
            (self.work / sub).mkdir(parents=True)
        tmp = str(self.work / "tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None  # re-read TMPDIR
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(self.root), os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
            p for p in (
                os.environ.get("SPARK_SUBMIT_OPTS", ""),
                f"-Djava.io.tmpdir={self.work / 'jtmp'}",
                "-XX:-UsePerfData",  # no hsperfdata file under /tmp
                # fixed heap and young generation: G1 otherwise sizes both on
                # GC-time heuristics, which made the JVM's peak RSS jump
                # between runs of the same inputs
                f"-Xms{DRIVER_MEM}",
                f"-Xmn{YOUNG_GEN}",
            ) if p
        )
        self._prev_sigterm = signal.signal(signal.SIGTERM, _exit_on_sigterm)
        return self

    def __exit__(self, *exc) -> None:
        try:
            self.shutdown_jvm()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                self.work.parent.rmdir()  # only if no other run is using it
            except OSError:
                pass
            signal.signal(signal.SIGTERM, self._prev_sigterm or signal.SIG_DFL)

    # ---- Spark

    def start_spark(self, app: str, cpus: int = SLOTS):
        from lucene_mapreduce_spark.session import get_spark

        conf = {
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": str(self.work / "htmp"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            (self.work / "eventlog").mkdir(exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app, cpus=cpus, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        """Stop the SparkContext; the JVM stays up for a later session."""
        if self.spark is None:
            return
        pid = self.jvm_pid()
        if pid is not None:
            self.jvm_hwm_kb = max(self.jvm_hwm_kb, _hwm_kb(pid))
        self.spark.stop()
        self.spark = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def shutdown_jvm(self) -> None:
        """Stop Spark, close the py4j gateway and wait for the JVM to exit."""
        self.stop_spark()
        if "pyspark" not in sys.modules:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)

    # ---- measurements

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this driver process plus the Spark JVM."""
        if self.spark is not None:
            pid = self.jvm_pid()
            if pid is not None:
                self.jvm_hwm_kb = max(self.jvm_hwm_kb, _hwm_kb(pid))
        driver_kb = _hwm_kb("self")
        print(f"peak RSS: driver {driver_kb / 1024:.0f} MB, JVM {self.jvm_hwm_kb / 1024:.0f} MB",
              flush=True)
        return (driver_kb + self.jvm_hwm_kb) / 1024.0

    def path(self, *parts: str) -> str:
        return str(self.work.joinpath(*parts))


def _exit_on_sigterm(signum, frame):  # noqa: ARG001
    raise SystemExit(128 + signum)


def timed(fn, *args, **kw):
    """(result, seconds) of one call."""
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0
