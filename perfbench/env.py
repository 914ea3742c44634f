"""Process environment of one benchmark run: its private directories, the
Spark session it starts and stops, and the host facts it records.

A run's scratch files go under ``perfbench/.work/run-<pid>/``, which is
removed when the run ends; its generated inputs are cached under
``perfbench/.cache/``.  ``get_spark`` receives the host's core count,
a driver memory that fits the host and explicit scratch and local
directories, so none of the library's defaults (32 cores, 16g, system temp
dirs) apply.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import subprocess
import sys
import time

PERFBENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PERFBENCH)

CACHE = os.path.join(PERFBENCH, ".cache")
CACHE_ENTRIES = 48

# files of the checkout the benchmark needs besides its own directory
REQUIRED = (
    "tidierdb_jl_spark/__init__.py",
    "__spark_entry__.py",
    "bench.py",
    "tools/gen_sf.py",
    "tests/helpers.py",
)


def missing_sources() -> list[str]:
    return [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal not in /proc/meminfo")


def driver_memory() -> str:
    """A quarter of the host's memory, between 1g and 4g."""
    return f"{max(1, min(4, mem_total_bytes() // (4 << 30)))}g"


def vm_hwm_bytes(pid: int) -> int:
    """Peak resident set size of ``pid`` (``VmHWM``)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def cpu_ticks() -> dict:
    """Aggregate CPU time counters of the host (``/proc/stat``), in ticks."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, map(int, fields)))


def host_facts() -> dict:
    model = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    import pyspark

    return {
        "cores": nproc(),
        "cpu_model": model,
        "mem_total_gb": round(mem_total_bytes() / (1 << 30), 1),
        "loadavg": os.getloadavg(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }


class Sandbox:
    """The run's private directory tree and the environment pointing at it."""

    def __init__(self) -> None:
        self.root = os.path.join(PERFBENCH, ".work", f"run-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.tmp = self._dir("tmp")
        self.local = self._dir("spark-local")
        self.scratch = self._dir("scratch")
        self.state = self._dir("state")
        self.inputs = ""
        # tempfile and Spark read these before the first temp file exists
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["TIDY_SCRATCH"] = self.scratch

    def _dir(self, name: str) -> str:
        path = os.path.join(self.root, name)
        os.makedirs(path)
        return path

    def prepare_inputs(self, workload: str, sf: float, seed: int) -> None:
        """Point ``self.inputs`` at the inputs of (workload, sf, seed),
        generating them in a child process (see ``inputs.py``) unless an
        earlier run cached them.  The cache key covers the source of the
        generator, the queries and their oracle, so an edit to any of them
        regenerates."""
        digest = hashlib.sha256()
        for rel in ("perfbench/inputs.py", "perfbench/workloads.py", *REQUIRED[1:]):
            with open(os.path.join(ROOT, rel), "rb") as fh:
                digest.update(fh.read())
        name = f"{workload}-sf{sf:g}-seed{seed}-{digest.hexdigest()[:16]}"
        self.inputs = os.path.join(CACHE, name)
        if os.path.isdir(self.inputs):
            os.utime(self.inputs)
            return
        building = os.path.join(CACHE, f"building-{os.getpid()}")
        shutil.rmtree(building, ignore_errors=True)
        os.makedirs(building)
        try:
            subprocess.run(
                [sys.executable, os.path.join(PERFBENCH, "inputs.py"),
                 workload, repr(sf), str(seed), building],
                stdout=sys.stderr, check=True, timeout=300,
            )
            os.rename(building, self.inputs)
        finally:
            shutil.rmtree(building, ignore_errors=True)
        entries = sorted(
            (os.path.join(CACHE, e) for e in os.listdir(CACHE) if not e.startswith("building-")),
            key=os.path.getmtime,
        )
        for old in entries[:-CACHE_ENTRIES]:
            shutil.rmtree(old, ignore_errors=True)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


class Engine:
    """The Spark session of one run: ``local[nproc]``, shuffle partitions =
    nproc, UI off, status-store retention raised so a traced run can read
    every job, stage and SQL execution back."""

    def __init__(self, sandbox: Sandbox) -> None:
        from tidierdb_jl_spark import get_spark

        self.cores = nproc()
        self.spark = get_spark(
            app="perfbench",
            cpus=self.cores,
            shuffle_partitions=self.cores,
            driver_memory=driver_memory(),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": sandbox.local,
                "spark.driver.extraJavaOptions": (
                    f"-Dderby.system.home={sandbox.scratch} "
                    f"-Djava.io.tmpdir={sandbox.tmp}"
                ),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        self.jvm_proc = self.spark.sparkContext._gateway.proc

    def peak_rss_bytes(self) -> int:
        """Peak RSS of the Python driver plus the driver JVM."""
        return vm_hwm_bytes(os.getpid()) + vm_hwm_bytes(self.jvm_proc.pid)

    def probe(self, rows: int) -> float:
        """Seconds of one fixed pure-JVM hash scan over ``rows`` rows, the
        shape of ``bench.py``'s calibration probe.  It runs no repo code,
        so it tracks the speed the host gives this process."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        self.spark.range(0, rows).select(F.bit_xor(F.xxhash64("id"))).collect()
        return time.perf_counter() - t0

    def calibrate(self) -> float:
        """``bench.py``'s calibration: best of three probes over 200M rows."""
        return min(self.probe(200_000_000) for _ in range(3))

    def close(self) -> None:
        """Stop Spark, then the gateway JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if self.jvm_proc.stdin is not None:
            self.jvm_proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            self.jvm_proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.jvm_proc.kill()
            self.jvm_proc.wait(timeout=30)
