"""The benchmark's handle on the engine: one Spark session at a time,
its warm-up, and the tracing objects bound to it."""

from __future__ import annotations

import os
import subprocess
import time

from pyspark import SparkContext

from real_time_ride_hailing_data_pipeline_spark.session import get_spark

from tracing import JobCounter, ProgressRecorder, Tracer


class Engine:
    """Owns the session of one benchmark run. ``start`` (re)builds it
    through ``session.get_spark`` and warms it up; both steps are timed
    into ``start_s`` / ``warmup_s``."""

    def __init__(self, work: str, cpus: int, traced: bool) -> None:
        self.work = work
        self.cpus = cpus
        self.tracer = Tracer(traced)
        self.spark = None
        self.progress: ProgressRecorder | None = None
        self.jobs: JobCounter | None = None
        self.start_s: list[float] = []
        self.warmup_s: list[float] = []

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def start(self) -> None:
        self.stop()
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench",
                cpus=self.cpus,
                extra_conf={
                    "spark.local.dir": tmp,
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("session.warmup"):
            self.spark.range(0, 100_000, numPartitions=self.cpus).selectExpr(
                "sum(id)", "count(distinct id % 97)"
            ).collect()
        t2 = time.perf_counter()
        self.start_s.append(t1 - t0)
        self.warmup_s.append(t2 - t1)
        self.progress = ProgressRecorder()
        self.spark.streams.addListener(self.progress)
        self.jobs = JobCounter(self.spark)

    def stop(self) -> None:
        if self.spark is None:
            return
        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
