"""Run environment, Spark lifecycle and Spark status-store readers shared
by the workloads.

Everything a run writes lives under one per-run directory inside the
checkout (`.perfbench_runs/<run-id>/`): the Python and JVM temp dirs,
Spark's local dirs, the working directory (warehouse, derby) and the
workload's own inputs and outputs. The directory is deleted at the end of
the run; whatever Spark code left in the temp dir is measured first.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
DRIVER_MEM = "4g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RunEnv:
    """Pins the environment before pyspark is imported: cores, worker
    PYTHONPATH, per-run temp/local/working dirs, JVM temp dir and a
    status store large enough to keep every job of the run."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.dir = os.path.join(RUNS_DIR, self.run_id)
        self.tmp = os.path.join(self.dir, "tmp")
        self.local = os.path.join(self.dir, "local")
        self.work = os.path.join(self.dir, "work")
        self.data = os.path.join(self.dir, "data")
        self.load_start = round(os.getloadavg()[0], 2)
        self.steal_start = steal_s()

    def enter(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        for d in (self.tmp, self.local, self.work, self.data):
            os.makedirs(d)
        env = os.environ
        env["SPARK_GRAFT_CPUS"] = str(nproc())
        env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH", "")) if p
        )
        env["TMPDIR"] = self.tmp
        env["SPARK_LOCAL_DIRS"] = self.local
        env["PYSPARK_SUBMIT_ARGS"] = (
            f'--driver-java-options "-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData" '
            "--conf spark.ui.retainedJobs=100000 "
            "--conf spark.ui.retainedStages=100000 "
            "pyspark-shell"
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        os.chdir(self.work)

    def env_record(self) -> dict:
        import pyspark

        return {
            "run_id": self.run_id,
            "workload": self.workload,
            "seed": self.seed,
            "trace": self.trace,
            "nproc": nproc(),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "driver_mem": DRIVER_MEM,
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "load_1m_start": self.load_start,
            "load_1m_end": round(os.getloadavg()[0], 2),
            # CPU time the hypervisor gave to other guests during the run
            "steal_s": round(steal_s() - self.steal_start, 2),
        }

    def tmp_bytes(self) -> int:
        return dir_bytes(self.tmp)

    def cleanup(self) -> None:
        os.chdir(ROOT)
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass


def steal_s() -> float:
    """Steal time summed over all CPUs since boot (/proc/stat), in s."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the JVM, the Python worker daemon and its workers),
    each with the children it has reaped. The kernel leaves steal time
    (CPU the hypervisor gave to other guests) out of task CPU time, so on
    a shared host this varies far less than wall time."""
    me = os.getpid()
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()  # f[0] is field 3 (state)
        parent[int(d)] = int(f[1])
        ticks[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(root, n)).st_size
            except OSError:
                pass
    return total


def dir_files(path: str, suffix: str = ".parquet") -> int:
    return sum(
        1 for _, _, names in os.walk(path) for n in names if n.endswith(suffix)
    )


def start_spark():
    from elric_rs_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def max_job_id(spark) -> int:
    """Highest job id so far, across job groups (streaming batches run
    under their query's group)."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def spark_totals(spark, first_job: int, last_job: int) -> dict:
    """Sum stage metrics over jobs first_job..last_job from the status
    store (works with the UI disabled). Skipped stages carry no
    attempt and are not counted."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stages: set[int] = set()
    jobs = 0
    for jid in range(first_job, last_job + 1):
        try:
            job = store.job(jid)
        except Exception:
            continue
        jobs += 1
        ids = job.stageIds()
        stages.update(int(ids.apply(i)) for i in range(ids.length()))
    out = dict(jobs=jobs, stages=0, tasks=0, executor_run_s=0.0,
               executor_cpu_s=0.0, shuffle_read_bytes=0,
               shuffle_write_bytes=0, spill_bytes=0)
    for sid in stages:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += int(st.numCompleteTasks())
        out["executor_run_s"] += st.executorRunTime() / 1000.0
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
        out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
        out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
    return out


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def emit(line: dict) -> None:
    print(json.dumps(line), flush=True)


class Clock:
    """Wall clock of one run, from process start."""

    def __init__(self):
        self.t0 = time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() - self.t0
