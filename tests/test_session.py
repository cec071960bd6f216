"""get_spark sizes a plain-python session from the host: Spark's own
local[*] master, shuffle partitions from defaultParallelism (in sessions
made by newSession() too), and a driver heap below physical memory. Run
in a fresh interpreter, since the heap only applies when get_spark
launches the JVM."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import json
from yomitoku_spark.session import get_spark
s = get_spark(app="session_probe")
sc = s.sparkContext
print(json.dumps({
    "master": sc.master,
    "shuffle": int(s.conf.get("spark.sql.shuffle.partitions")),
    "new_session_shuffle": int(s.newSession().conf.get("spark.sql.shuffle.partitions")),
    "parallelism": sc.defaultParallelism,
    "max_heap": sc._jvm.java.lang.Runtime.getRuntime().maxMemory(),
}))
s.stop()
"""


@pytest.mark.slow
def test_plain_python_session_sized_from_host(tmp_path):
    unset = ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "PYSPARK_GATEWAY_PORT")
    env = {k: v for k, v in os.environ.items() if k not in unset}
    env["PYTHONPATH"] = ROOT
    p = subprocess.run([sys.executable, "-c", PROBE], capture_output=True, text=True,
                       cwd=tmp_path, env=env, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    got = json.loads(p.stdout.strip().splitlines()[-1])
    assert got["master"] == "local[*]"
    assert got["shuffle"] == got["parallelism"] == len(os.sched_getaffinity(0))
    assert got["new_session_shuffle"] == got["shuffle"]
    assert got["max_heap"] < os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
