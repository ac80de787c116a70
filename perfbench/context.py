"""Per-run state shared by the workloads: work directory, seeded RNG,
tracer, Spark session, host probe and structural counters."""

from __future__ import annotations

import os
import random
import resource
import subprocess
import time

from perfbench.trace import Tracer


class Ctx:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.rng = random.Random(seed)
        self.tracer = Tracer(trace)
        self.spark = None
        self.event_log_dir = os.path.join(work, "eventlog")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        """Start the engine's session; the program's temp and spill
        files stay under the run's work directory."""
        from iceberg_kafka_playgroud_spark.session import get_spark

        tmp = self.path("tmp")
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_log_dir
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        with self.tracer.span("session.start"):
            self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        return self.spark

    def job_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def group_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) Spark ran under a job group."""
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            jobs += 1
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    tasks += sinfo.numTasks
        return jobs, stages, tasks

    def probe(self) -> float:
        """Fixed host-calibration shape (10M-row sum to a noop sink): one
        unrecorded warm rep, then the timed one."""
        self.job_group("host.probe")
        shape = self.spark.range(10_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite")
        shape.save()
        t0 = time.perf_counter()
        shape.save()
        return time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        """Peak resident set of this process plus the driver JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def stop(self) -> None:
        """Stop the session, then the driver JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def event_log_lines(self):
        """Lines of the run's Spark event log (empty when none)."""
        if not os.path.isdir(self.event_log_dir):
            return []
        lines: list[str] = []
        for dirpath, _, files in sorted(os.walk(self.event_log_dir)):
            for name in sorted(f for f in files if not f.endswith(".crc")):
                with open(os.path.join(dirpath, name), errors="replace") as fh:
                    lines.extend(fh)
        return lines
