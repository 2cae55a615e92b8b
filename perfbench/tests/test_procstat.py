"""The process-tree sampler: finds descendants, counts their CPU (also after
they exit), classifies PySpark workers and catches their peak memory.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import procstat  # noqa: E402

# A child that allocates ~64 MB, burns CPU, then starts a grandchild that
# does the same, and waits for it.
_BURN = """
import subprocess, sys, time
buf = bytearray(64 * 2**20)
for i in range(0, len(buf), 4096):
    buf[i] = 1
t = time.process_time()
while time.process_time() - t < 0.4:
    pass
if len(sys.argv) > 1:
    subprocess.run([sys.executable, "-c", sys.argv[1]], check=True)
"""


def test_classify():
    assert procstat.classify("python3 -m pyspark.daemon") == "python_worker"
    assert procstat.classify("/usr/bin/python3 -m pyspark.worker") == "python_worker"
    # the JVM's planner worker for a Python data source's partitions()
    planner = "/usr/bin/python3 -m pyspark.sql.worker.plan_data_source_read"
    assert procstat.classify(planner) == "python_worker"
    assert procstat.classify("python3 spark/python/pyspark/daemon.py") == "python_worker"
    assert procstat.classify("/usr/lib/jvm/bin/java -cp x org.apache.spark.deploy.SparkSubmit") == "jvm"
    assert procstat.classify("python3 perfbench/run.py") == "driver"


def test_tree_cpu_includes_exited_descendants_and_peak_rss():
    tree = procstat.ProcessTree(interval_s=0.02).start()
    try:
        before = tree.snapshot()
        child = subprocess.Popen([sys.executable, "-c", _BURN, _BURN])
        seen = set()
        while child.poll() is None:
            seen.update(tree.members())
            time.sleep(0.02)
        after = tree.snapshot()
        peak = tree.peak_rss_bytes()
    finally:
        tree.stop()
    assert child.returncode == 0
    # root, child and grandchild were all members at some point
    assert os.getpid() in seen and child.pid in seen and len(seen) >= 3
    # both burners' CPU is counted although both have exited and been reaped
    assert procstat.cpu_delta(before, after)["total"] >= 0.7
    assert peak >= 64 * 2**20
    assert tree._thread is not None and not tree._thread.is_alive()


def test_snapshot_of_a_vanished_root_is_empty():
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    snap = procstat.ProcessTree(root=child.pid).snapshot()
    assert snap == {"driver": 0.0, "jvm": 0.0, "python_worker": 0.0, "rss_bytes": 0.0}


def test_cpu_of_workers_the_jvm_reaped_counts_as_python_worker(tmp_path):
    # A stand-in JVM (the interpreter under the name ``java``) runs a burner
    # child, reaps it, and waits: the burner's CPU now sits in the stand-in's
    # cutime and must be counted as Python worker CPU, not JVM CPU.
    java = tmp_path / "java"
    java.symlink_to(sys.executable)
    jvm_script = (
        "import subprocess, sys\n"
        f"subprocess.run([sys.executable, '-c', {_BURN!r}], check=True)\n"
        "print('reaped', flush=True)\n"
        "sys.stdin.read()\n"
    )
    tree = procstat.ProcessTree()
    before = tree.snapshot()
    jvm = subprocess.Popen(
        [str(java), "-c", jvm_script],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert jvm.stdout.readline().strip() == "reaped"
        assert procstat.classify(procstat._cmdline(jvm.pid)) == "jvm"
        delta = procstat.cpu_delta(before, tree.snapshot())
    finally:
        jvm.stdin.close()
        jvm.wait()
    assert delta["python_worker"] >= 0.35
    assert delta["jvm"] < 0.35
