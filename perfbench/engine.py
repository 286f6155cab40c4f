"""One Spark driver JVM per benchmark process: launch, repeated session
set-up, peak-RSS probes and teardown.

Every file the engine writes (shuffle and spill files, temp dirs, the
event log) goes under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import tempfile
import time

from pyspark import SparkContext
from pyspark.sql import SparkSession

from sbm_communitydetection_spark.session import get_spark


class Engine:
    def __init__(self, work_dir: str, cores: int, heap: str):
        self.work_dir = work_dir
        self.cores = cores
        self.heap = heap
        self.spark: SparkSession | None = None
        for d in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(work_dir, d), exist_ok=True)
        # temp files of this process (the engine's lineage severance
        # snapshots among them) go to the work dir; no JVM writes perf data
        # to /tmp
        tmp = os.path.join(work_dir, "tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    def conf(self, event_log_dir: str | None) -> dict[str, str]:
        tmp = os.path.join(self.work_dir, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            # session.get_spark's collector choice, plus temp files and JVM
            # perf data kept inside the work directory
            "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            # explicit: SparkSession.builder keeps options from earlier sessions
            "spark.eventLog.enabled": "false",
        }
        if event_log_dir is not None:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start(self, event_log_dir: str | None = None) -> SparkSession:
        """``session.get_spark`` with this run's heap, cores and directories.
        The first call launches the JVM; later calls reuse it."""
        self.spark = get_spark(
            app_name="perfbench",
            cores=self.cores,
            driver_memory=self.heap,
            extra_conf=self.conf(event_log_dir),
        )
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pids(self) -> list[int]:
        """The gateway JVM and every process below it."""
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is None:
            return []
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [proc.pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def reset_peak_rss(self) -> None:
        for pid in [os.getpid(), *self.jvm_pids()]:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_rss_mb(self) -> float:
        """Σ VmHWM of this process and the JVM tree since the last reset."""
        total_kb = 0
        for pid in [os.getpid(), *self.jvm_pids()]:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                pass
        return total_kb / 1024.0

    def shutdown(self) -> None:
        """Stop the session, then the gateway JVM, and wait for it to exit."""
        workers = self.jvm_pids()[1:]  # Python workers the JVM forked
        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        _wait_gone(workers)

    def cleanup(self) -> None:
        shutil.rmtree(self.work_dir, ignore_errors=True)


def _wait_gone(pids: list[int], timeout: float = 10.0) -> None:
    """Wait for processes that are not our children to exit; kill stragglers."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
