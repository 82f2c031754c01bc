"""The session builder's defaults and the small-scan resplit guard shared
by every map-heavy operator."""

import json
import os
import subprocess
import sys
from pathlib import Path

from pprl_spark.spark import session as S
from pprl_spark.spark.session import resplit

SF = "/root/testdata/sf0.001"


def test_resplit_repartitions_only_scans_below_the_floor(spark):
    parallelism = spark.sparkContext.defaultParallelism
    scan = spark.read.parquet(f"{SF}/documents.parquet")
    assert scan.rdd.getNumPartitions() == 1
    assert resplit(scan).rdd.getNumPartitions() == parallelism
    floor = max(parallelism, 8)
    assert resplit(scan, floor).rdd.getNumPartitions() == floor

    wide = spark.range(0, 1000, numPartitions=parallelism)
    assert resplit(wide) is wide
    wider = spark.range(0, 1000, numPartitions=floor)
    assert resplit(wider, floor) is wider


def test_get_spark_defaults_fit_the_host(monkeypatch):
    """Without overrides, ``local[N]`` takes the CPUs the process may run
    on and the driver heap the smaller of 24g and half the physical
    memory; ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` still win."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert S._default_cpus() == len(os.sched_getaffinity(0))
    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert S._default_driver_memory() == f"{min(24 << 10, physical_mb // 2)}m"

    pages = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(S.os, "sysconf", lambda name: pages[name])
    pages["SC_PHYS_PAGES"] = (15 << 30) // 4096  # a 15 GiB host
    assert S._default_driver_memory() == "7680m"
    pages["SC_PHYS_PAGES"] = (256 << 30) // 4096  # a 256 GiB host
    assert S._default_driver_memory() == "24576m"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert S._default_cpus() == 3
    assert S._default_driver_memory() == "5g"


def test_task_slots_parse_every_master_form(monkeypatch):
    """One parse of the master's slot count feeds both the shuffle
    partitions and the idle Python-worker cap: ``local[N]`` and
    ``local[N,F]`` give N, ``local[*]`` the CPUs this process may run on
    (not ``SPARK_GRAFT_CPUS``, which only picks the default master), and a
    cluster master gives None."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    host = len(os.sched_getaffinity(0))
    assert S._task_slots("local") == 1
    assert S._task_slots("local[6]") == 6
    assert S._task_slots("local[6,2]") == 6
    assert S._task_slots("local[*]") == host
    assert S._task_slots("local[*,4]") == host
    for cluster in ("spark://head:7077", "yarn", "k8s://https://api:6443", "local-cluster[2,1,1024]"):
        assert S._task_slots(cluster) is None
    monkeypatch.setattr(S, "_host_cpus", lambda: 32)
    assert S._task_slots("local[*]") == 32


_WORKER_FOOTPRINT = """
import json, os, threading, time
from pyspark.sql import functions as F
from pprl_spark.config import (AttributeTransformerConfig, CLKFilter, HashConfig,
                               HashFunctionConfig, MaskConfig, TransformConfig, TransformerSpec)
from pprl_spark.spark.mask import mask
from pprl_spark.spark.session import get_spark
from pprl_spark.spark.transform import transform


def daemon_children():
    # workers forked by a pyspark.daemon under this process's own JVM
    # (other sessions on the host have daemons of their own)
    cmdline, children = {}, {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                cmdline[entry] = open(f"/proc/{entry}/cmdline", "rb").read()
                parent = open(f"/proc/{entry}/stat").read().rsplit(")", 1)[1].split()[1]
            except OSError:
                continue
            children.setdefault(parent, []).append(entry)
    mine, frontier = set(), [str(os.getpid())]
    while frontier:
        frontier = [kid for pid in frontier for kid in children.get(pid, [])]
        mine.update(frontier)
    daemons = {pid for pid in mine if b"pyspark.daemon" in cmdline.get(pid, b"")}
    return sum(kid in daemons for pid in daemons for kid in children.get(pid, []))


spark = get_spark(master="local[2]", extra_conf={"spark.ui.showConsoleProgress": "false"})
tcfg = TransformConfig(attribute_transformers=(
    AttributeTransformerConfig("name", (TransformerSpec("normalization"),)),))
mcfg = MaskConfig(filter=CLKFilter(1024, 5), hash=HashConfig(HashFunctionConfig(("sha256",)), "double_hash"),
                  token_size=2, padding="_", prepend_attribute_name=True)
records = spark.range(0, 20000, 1, 4).select(
    F.col("id").cast("string").alias("id"),
    F.concat(F.lit("Name "), F.col("id").cast("string")).alias("name"))
encoded = mask(transform(records, tcfg, ["name"]), mcfg, ["name"])
plan = encoded._jdf.queryExecution().executedPlan().toString()

peak, done = [0], threading.Event()

def sample():
    while not done.wait(0.02):
        peak[0] = max(peak[0], daemon_children())

threading.Thread(target=sample, daemon=True).start()
encoded.agg(F.sum(F.length("bloom"))).collect()
done.set()
deadline = time.time() + 10
while daemon_children() > 2 and time.time() < deadline:
    time.sleep(0.1)
conf = spark.sparkContext.getConf()
print(json.dumps({
    "udf_nodes": plan.count("ArrowEvalPython"), "exchanges": plan.count("Exchange"),
    "peak": peak[0], "idle": daemon_children(),
    "cap": conf.get("spark.python.factory.idleWorkerMaxPoolSize"),
    "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
}))
spark.stop()
"""


def test_get_spark_frees_extra_python_workers_after_a_two_udf_stage():
    """A ``mask(transform(df))`` stage runs two Arrow-UDF nodes, so two
    Python workers, per task; once it ends, a ``get_spark`` session keeps
    at most one idle worker per task slot.  Runs in its own process so
    the shared test session keeps its pool."""
    root = str(Path(__file__).resolve().parents[1])
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_FOOTPRINT], env=env, cwd=root,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["udf_nodes"] == 2 and got["exchanges"] == 0, got
    assert got["peak"] > 2, got  # the stage did need a second worker per task
    assert got["idle"] <= 2, got
    assert got["cap"] == "2" and got["shuffle_partitions"] == "8", got
