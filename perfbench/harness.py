"""What every workload shares: the run's settings, its Spark session and
its tally of operations attempted and failed."""

from __future__ import annotations

import os
import subprocess
import tempfile
import time

from spans import Tracer


class Run:
    def __init__(self, work: str, seed: int, seconds: float, trace: bool,
                 t_process: float):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.t_process = t_process
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.known_failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.get_spark_s = 0.0

    def session(self):
        """Spark as local[nproc] in this process, its scratch space kept
        inside the work directory."""
        ncpu = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        # no hsperfdata file under /tmp, from the launcher JVM or the
        # driver, and no progress bar on stderr
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.showConsoleProgress=false --driver-java-options "
            f"'-XX:-UsePerfData -Djava.io.tmpdir={tmp}' pyspark-shell")
        from reddit_sentiment_spark_streaming_pipeline_spark.session import get_spark

        t = time.time()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", driver_memory="3g")
        self.get_spark_s = time.time() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup_s(self) -> float:
        """Process start to now: called when the timed phase starts."""
        return time.time() - self.t_process

    def tally(self, attempted: int, failures: list[str], failed: int | None = None,
              known_fault: bool = False):
        """Count `attempted` operations; `failed` of them failed (default:
        one per failure message, at most `attempted`). `known_fault`
        marks operations that fail through a fault of the program the
        benchmark names; they count as failed but leave the run correct."""
        n = min(len(failures), attempted) if failed is None else failed
        self.attempted += attempted
        self.failed += n
        if known_fault:
            self.known_failed += n
        self.problems += failures

    @property
    def correct(self) -> bool:
        """Every operation passed its checks, apart from the known faults."""
        return self.failed == self.known_failed

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            self.spark = None
