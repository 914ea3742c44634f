"""The Python worker daemon ``get_spark`` installs (``_pydaemon.py``):
pandas UDFs run under it when the driver starts outside the repo root,
``importlib.invalidate_caches()`` re-reads only zip archives that changed,
and the session's other defaults come from the host."""

import json
import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json, sys
sys.path.insert(0, REPO)
import pandas as pd
from pyspark.sql.functions import pandas_udf
from tidierdb_jl_spark import get_spark

spark = get_spark(extra_conf={"spark.executorEnv.PYTHONPATH": EXTRA})


@pandas_udf("string")
def probe(s: pd.Series) -> pd.Series:
    import importlib, os, sys, zipimport

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    def invalidate():
        del reads[:]
        importlib.invalidate_caches()
        return list(reads)

    zipimport._read_directory = counting
    sys.path.insert(0, ARCHIVE)
    try:
        # this task's start already ran invalidate_caches once
        unchanged = invalidate()
        importlib.import_module("pydaemon_probe_mod")
        invalidate()  # the new importer's first invalidate stamps it
        repeat = invalidate()
        st = os.stat(ARCHIVE)
        os.utime(ARCHIVE, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        touched = invalidate()
    finally:
        zipimport._read_directory = read_directory
        sys.path.remove(ARCHIVE)
    out = {
        "main": sys.modules["__main__"].__spec__.name,
        "extra_on_path": EXTRA in sys.path,
        "unchanged": unchanged,
        "repeat": repeat,
        "touched": touched,
    }
    return pd.Series([json.dumps(out)] * len(s))


row = spark.range(1, numPartitions=1).select(probe("id").alias("r")).collect()[0]
print("RESULT", json.dumps({
    "udf": json.loads(row.r),
    "master": spark.sparkContext.master,
    "driver_memory": spark.conf.get("spark.driver.memory"),
}))
spark.stop()
"""


def test_udf_runs_under_repo_daemon_outside_repo_root(tmp_path):
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pydaemon_probe_mod.py", "VALUE = 1\n")
    extra = str(tmp_path / "extra")
    os.mkdir(extra)
    script = (
        f"REPO = {REPO!r}\nARCHIVE = {archive!r}\nEXTRA = {extra!r}\n" + _SCRIPT
    )
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")
    }
    r = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT ")]
    assert r.returncode == 0 and lines, r.stderr[-3000:]
    res = json.loads(lines[-1][len("RESULT "):])
    udf = res["udf"]
    assert udf["main"] == "tidierdb_jl_spark._pydaemon"
    assert udf["extra_on_path"]  # a caller's PYTHONPATH is merged, not replaced
    assert udf["unchanged"] == []  # pyspark.zip & co. are not re-read per task
    assert udf["repeat"] == []
    assert udf["touched"] == [archive]
    # host defaults: every core this process may use, half the memory
    assert res["master"] == f"local[{len(os.sched_getaffinity(0))}]"
    with open("/proc/meminfo") as fh:
        kib = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1])
    assert res["driver_memory"] == f"{max(1, kib // (2 << 20))}g"
