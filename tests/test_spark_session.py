"""The session builder's defaults, the small-scan resplit guard shared
by every map-heavy operator, and the package's worker-only set-up."""

import inspect
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

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


def test_resplit_returns_a_plan_with_an_exchange_unprobed(spark):
    """A shuffled or broadcast-joined frame is returned as it is, and
    resplit starts no job on it: ``df.rdd`` over an exchange would run
    the stages below it."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    scan = spark.read.parquet(f"{SF}/documents.parquet")
    shuffled = scan.groupBy((F.col("doc_id") % 3).alias("k")).count()
    joined = scan.join(F.broadcast(scan.select("doc_id", F.col("text").alias("t"))), "doc_id")
    sc.setJobGroup("resplit:exchanges", "resplit over exchanges")
    try:
        assert resplit(shuffled, 64) is shuffled
        assert resplit(joined, 64) is joined
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("resplit:exchanges")) == []


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


def my_daemons():
    # each Python worker daemon (pyspark.daemon, or pprl_spark._daemon in a
    # local get_spark session) under this process's own JVM, with the
    # workers it forked (other sessions on the host have daemons of their own)
    cmdline, parent, children = {}, {}, {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                cmdline[entry] = open(f"/proc/{entry}/cmdline", "rb").read()
                parent[entry] = open(f"/proc/{entry}/stat").read().rsplit(")", 1)[1].split()[1]
            except OSError:
                continue
            children.setdefault(parent[entry], []).append(entry)
    mine, frontier = set(), [str(os.getpid())]
    while frontier:
        frontier = [kid for pid in frontier for kid in children.get(pid, [])]
        mine.update(frontier)
    # a forked worker keeps its daemon's command line, `python -m <daemon>
    # <worker>` (the JVM's own command line may name the daemon in a --conf)
    daemons = ([b"-m", b"pyspark.daemon"], [b"-m", b"pprl_spark._daemon"])
    forks = {pid for pid in mine if cmdline.get(pid, b"").split(b"\0")[1:3] in daemons}
    return {pid: [kid for kid in children.get(pid, []) if kid in forks]
            for pid in forks if parent[pid] not in forks}


# the walk, for the scripts that run a session in a process of their own
_PROC_WALK = "import os\n\n\n" + inspect.getsource(my_daemons)


_ROOT = str(Path(__file__).resolve().parents[1])


def _run_session_script(script: str, *args: str, cwd: str = _ROOT) -> dict:
    """Run ``script`` in its own Python process, so that its session's
    worker pool is its own, and parse its last stdout line as JSON.  Run
    from the checkout, the checkout goes on ``PYTHONPATH``; run from
    anywhere else, ``PYTHONPATH`` is unset and the script must put the
    checkout on ``sys.path`` itself."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    if cwd == _ROOT:
        env["PYTHONPATH"] = os.pathsep.join(p for p in (_ROOT, env.get("PYTHONPATH")) if p)
    else:
        env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", script, *args], env=env, cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


_WORKER_FOOTPRINT = _PROC_WALK + """
import json, threading, time
from pyspark.sql import functions as F
from pprl_spark.config import (AttributeTransformerConfig, CLKFilter, HashConfig,
                               HashFunctionConfig, MaskConfig, TransformConfig, TransformerSpec)
from pprl_spark.spark.mask import mask
from pprl_spark.spark.session import get_spark
from pprl_spark.spark.transform import transform


def daemon_children():
    return sum(len(kids) for kids in my_daemons().values())


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
    got = _run_session_script(_WORKER_FOOTPRINT)
    assert got["udf_nodes"] == 2 and got["exchanges"] == 0, got
    assert got["peak"] > 2, got  # the stage did need a second worker per task
    assert got["idle"] <= 2, got
    assert got["cap"] == "2" and got["shuffle_partitions"] == "8", got


def test_get_spark_sets_the_preloaded_daemon_for_local_masters_only():
    """A local master forks its Python workers from ``pprl_spark._daemon``;
    a cluster master keeps ``pyspark.daemon``, because its executors may
    get the package only through ``--py-files``, which a daemon cannot see
    when it starts.  A local master's JVM also runs the parallel
    collector.  The caller's ``extra_conf`` still wins."""
    for local in ("local", "local[2]", "local[*]", "local[4,2]"):
        conf = S._conf("t", local, None, None)
        assert conf["spark.python.daemon.module"] == "pprl_spark._daemon", local
        assert conf["spark.executorEnv.JE_ARROW_MALLOC_CONF"] == "background_thread:false", local
        assert conf["spark.driver.defaultJavaOptions"] == "-XX:+UseParallelGC", local
    for cluster in ("spark://head:7077", "yarn", "k8s://https://api:6443", "local-cluster[2,1,1024]"):
        conf = S._conf("t", cluster, None, None)
        assert "spark.python.daemon.module" not in conf, cluster
        assert "spark.executorEnv.JE_ARROW_MALLOC_CONF" not in conf, cluster
        assert "spark.driver.defaultJavaOptions" not in conf, cluster
    stock = {"spark.python.daemon.module": "pyspark.daemon"}
    assert S._conf("t", "local[2]", None, stock)["spark.python.daemon.module"] == "pyspark.daemon"


def test_get_spark_leaves_the_collector_to_a_caller_who_picks_one():
    """A JVM given two collectors refuses to start, so a collector in the
    caller's ``spark.driver.extraJavaOptions`` leaves ours out; other
    driver options keep it, and the caller's own
    ``spark.driver.defaultJavaOptions`` replaces it."""
    extra = {"spark.driver.extraJavaOptions": "-XX:+UseG1GC -Xss4m"}
    conf = S._conf("t", "local[2]", None, extra)
    assert "spark.driver.defaultJavaOptions" not in conf
    assert conf["spark.driver.extraJavaOptions"] == "-XX:+UseG1GC -Xss4m"
    for options in ("-Xss4m", "-XX:+UseStringDeduplication", "-XX:+UseGCOverheadLimit"):
        conf = S._conf("t", "local[2]", None, {"spark.driver.extraJavaOptions": options})
        assert conf["spark.driver.defaultJavaOptions"] == "-XX:+UseParallelGC", options
    for options in ("-XX:+UseSerialGC", "-Xss4m -XX:-UseParallelGC", "-XX:+UseZGC -Xss4m"):
        conf = S._conf("t", "local[2]", None, {"spark.driver.extraJavaOptions": options})
        assert "spark.driver.defaultJavaOptions" not in conf, options
    own = {"spark.driver.defaultJavaOptions": "-XX:+UseSerialGC"}
    assert S._conf("t", "local[2]", None, own)["spark.driver.defaultJavaOptions"] == "-XX:+UseSerialGC"


def test_shared_test_session_runs_the_parallel_collector(spark):
    """The suite's ``get_spark`` session runs its JVM on ParallelGC,
    whose young and old collectors are ``PS Scavenge`` and
    ``PS MarkSweep``."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    assert sorted(bean.getName() for bean in beans) == ["PS MarkSweep", "PS Scavenge"]


_CALLER_COLLECTOR = """
import json
from pprl_spark.spark.session import get_spark

spark = get_spark(master="local[2]", extra_conf={"spark.ui.showConsoleProgress": "false",
                                                 "spark.driver.extraJavaOptions": "-XX:+UseG1GC"})
beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
print(json.dumps({"collectors": sorted(bean.getName() for bean in beans),
                  "rows": spark.range(0, 100, 1, 2).count()}))
spark.stop()
"""


def test_get_spark_starts_with_a_collector_the_caller_picks():
    """``extra_conf`` selecting G1 starts a session (not one JVM given
    two collectors) that runs G1."""
    got = _run_session_script(_CALLER_COLLECTOR)
    assert got["rows"] == 100, got
    assert any(name.startswith("G1 ") for name in got["collectors"]), got
    assert not any(name.startswith("PS ") for name in got["collectors"]), got


_PRELOADED_DAEMON = _PROC_WALK + """
import gc, json, sys
from pprl_spark.spark.session import get_spark

spark = get_spark(master="local[2]", extra_conf={"spark.ui.showConsoleProgress": "false"})


def probe(batches):
    # imports nothing itself: what the worker has loaded, it had at its fork
    for batch in batches:
        pass
    yield batch.__class__.from_pydict({
        "pid": [os.getpid()],
        "modules": [sorted(m for m in ("pandas", "pyarrow", "pprl_spark") if m in sys.modules)],
        "frozen": [gc.get_freeze_count()],
    })


# the session's first Python job: each task runs in a freshly forked worker
rows = spark.range(0, 2, 1, 2).mapInArrow(probe, "pid long, modules array<string>, frozen long").collect()
daemons = my_daemons()
threads = {pid: int(open(f"/proc/{pid}/status").read().split("Threads:")[1].split()[0]) for pid in daemons}
print(json.dumps({
    "daemons": {pid: open(f"/proc/{pid}/cmdline", "rb").read().decode().split("\\0") for pid in daemons},
    "threads": threads, "workers": [r.asDict() for r in rows],
}))
spark.stop()
"""


def test_local_workers_fork_from_a_daemon_that_preloaded_the_package():
    """The one daemon of a local ``get_spark`` session runs
    ``pprl_spark._daemon`` with a single thread (no other thread's lock
    can be held across a fork), and the first task of each worker finds
    pandas, pyarrow and the package already loaded and the heap frozen."""
    got = _run_session_script(_PRELOADED_DAEMON)
    assert len(got["daemons"]) == 1, got
    (cmdline,) = got["daemons"].values()
    assert cmdline[1:3] == ["-m", "pprl_spark._daemon"], got
    assert list(got["threads"].values()) == [1], got
    assert len(got["workers"]) == 2, got
    for worker in got["workers"]:
        assert worker["modules"] == ["pandas", "pprl_spark", "pyarrow"], got
        assert worker["frozen"] >= 50_000, got


_FROM_OUTSIDE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from pprl_spark.config import CLKFilter, HashConfig, HashFunctionConfig, MaskConfig
from pprl_spark.spark.mask import mask
from pprl_spark.spark.session import get_spark

spark = get_spark(master="local[2]", extra_conf={"spark.ui.showConsoleProgress": "false"})
mcfg = MaskConfig(filter=CLKFilter(1024, 5), hash=HashConfig(HashFunctionConfig(("sha256",)), "double_hash"),
                  token_size=2, padding="_")
records = spark.range(0, 100, 1, 2).select(
    F.col("id").cast("string").alias("id"),
    F.concat(F.lit("Name "), F.col("id").cast("string")).alias("name"))
row = mask(records, mcfg, ["name"]).agg(F.count("bloom").alias("n"), F.count("*").alias("rows")).first()
print(json.dumps(row.asDict()))
spark.stop()
"""


def test_get_spark_workers_import_the_package_from_any_working_directory(tmp_path):
    """A script run from outside the checkout, with no ``PYTHONPATH``,
    that puts the checkout on ``sys.path`` itself can run a library UDF
    through ``get_spark``: the daemon and its workers get the package's
    directory on their ``PYTHONPATH``."""
    got = _run_session_script(_FROM_OUTSIDE, _ROOT, cwd=str(tmp_path))
    assert got == {"n": 100, "rows": 100}, got


_ONE_POOL = _PROC_WALK + """
import json, sys
from pyspark.sql.functions import pandas_udf
from pprl_spark.spark.session import get_spark

if sys.argv[2]:
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--conf {sys.argv[2]} pyspark-shell"
spark = get_spark(master="local[2]", extra_conf={"spark.ui.showConsoleProgress": "false",
                                                 **json.loads(sys.argv[1])})


@pandas_udf("long")
def plus_one(s):
    return s + 1


@pandas_udf("long")
def boom_sql(s):
    raise ValueError("boom-sql")


def boom_rdd(x):
    raise ValueError("boom-rdd")


def message(job):
    try:
        job()
    except Exception as e:  # the driver sees the worker's error text
        return str(e)
    return ""


udf_sum = sum(r[0] for r in spark.range(0, 100, 1, 2).select(plus_one("id")).collect())
listed = spark.createDataFrame([(1,), (2,)], "x long").collect()
rdd_sum = spark.sparkContext.parallelize(range(100), 2).map(lambda x: 2 * x).sum()
rdd_error = message(lambda: spark.sparkContext.parallelize([1], 1).map(boom_rdd).collect())
sql_error = message(lambda: spark.range(0, 1, 1, 1).select(boom_sql("id")).collect())
print(json.dumps({
    "daemons": len(my_daemons()), "udf_sum": udf_sum, "listed": len(listed), "rdd_sum": rdd_sum,
    "rdd_error": "boom-rdd" in rdd_error, "sql_error": "boom-sql" in sql_error,
    "env": spark.sparkContext.environment.get("SPARK_SIMPLIFIED_TRACEBACK"),
}))
spark.stop()
"""


_SIMPLIFIED = "spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled"


@pytest.mark.parametrize(
    "extra_conf, submit_conf, simplified",
    [
        ({}, "", "1"),
        ({_SIMPLIFIED: "false"}, "", None),
        ({}, _SIMPLIFIED + "=false", None),
    ],
    ids=["simplified_traceback", "full_traceback", "full_traceback_from_submit_conf"],
)
def test_get_spark_runs_every_python_function_in_one_worker_pool(extra_conf, submit_conf, simplified):
    """A ``pandas_udf``, a ``createDataFrame`` of a local list and an
    ``rdd.map`` share one ``pyspark.daemon``: PythonRDD functions get the
    worker env the SQL runners use, whichever traceback mode the caller
    picks, in ``extra_conf`` or in spark-submit's ``--conf``.  Errors
    raised in either kind of worker keep their message."""
    got = _run_session_script(_ONE_POOL, json.dumps(extra_conf), submit_conf)
    assert got["udf_sum"] == 5050 and got["listed"] == 2 and got["rdd_sum"] == 9900, got
    assert got["rdd_error"] and got["sql_error"], got
    assert got["daemons"] == 1, got
    assert got["env"] == simplified, got


def test_shared_test_session_runs_one_worker_pool(spark):
    """The suite's own session comes from ``get_spark``: after an Arrow UDF
    and a PythonRDD job its Python functions still share one
    ``pyspark.daemon``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s):
        return s + 1

    assert sum(r[0] for r in spark.range(0, 100, 1, 2).select(plus_one("id")).collect()) == 5050
    assert spark.createDataFrame([(1,), (2,)], "x long").count() == 2
    assert spark.sparkContext.parallelize(range(100), 2).map(lambda x: 2 * x).sum() == 9900
    assert len(my_daemons()) == 1, my_daemons()


@pytest.mark.parametrize("env, worker", [
    ({"PYTHON_WORKER_FACTORY_SECRET": "s3cret"}, True),
    # Spark 4.1 writes the flag as "True"; pyspark.daemon compares it lowercased
    ({"PYTHON_UNIX_DOMAIN_ENABLED": "True", "PYTHON_WORKER_FACTORY_SOCK_DIR": "/tmp"}, True),
    ({}, False),
], ids=["tcp_worker", "unix_socket_worker", "driver"])
def test_in_spark_worker_reads_both_worker_env_shapes(monkeypatch, env, worker):
    """A worker reached over TCP gets the factory secret; one reached over
    a Unix domain socket (``spark.python.unix.domain.socket.enabled``) gets
    ``PYTHON_UNIX_DOMAIN_ENABLED`` instead; the driver gets neither."""
    from pprl_spark import _zipcache

    for name in ("PYTHON_WORKER_FACTORY_SECRET", "PYTHON_UNIX_DOMAIN_ENABLED",
                 "PYTHON_WORKER_FACTORY_SOCK_DIR"):
        monkeypatch.delenv(name, raising=False)
    for name, value in env.items():
        monkeypatch.setenv(name, value)
    assert _zipcache.in_spark_worker() is worker


def test_library_workers_freeze_their_import_heap(spark):
    """Every worker of a ``get_spark`` session, whether it has run one of
    the library's Arrow operators or not, has ``pprl_spark`` loaded and
    its import-time heap frozen, so the ``gc.collect()`` pyspark.daemon
    runs after each task walks only the objects made since (the unfrozen
    worker tracks ~74k)."""
    from pprl_spark.sketch import HyperLogLog
    from pprl_spark.sketch.spark_agg import sketch_column

    df = spark.range(0, 4000, 1, 4).selectExpr("cast(id % 500 as string) as s")
    assert 400 < sketch_column(df, "s", lambda: HyperLogLog(p=12)).estimate() < 600

    def probe(batches):
        import gc
        import os
        import sys
        import time

        import pandas as pd

        for _ in batches:
            pass
        start = time.process_time()
        gc.collect()
        collect_s = time.process_time() - start
        yield pd.DataFrame({
            "pid": [os.getpid()], "library": ["pprl_spark" in sys.modules],
            "frozen": [gc.get_freeze_count()], "live": [len(gc.get_objects())],
            "collect_s": [collect_s],
        })

    rows = spark.range(0, 4, 1, 4).mapInPandas(
        probe, "pid long, library boolean, frozen long, live long, collect_s double"
    ).collect()
    for r in rows:
        assert r.library and r.frozen >= 50_000 and r.live < 10_000, rows


def test_driver_import_freezes_nothing():
    """On the driver the package neither freezes the heap nor loads
    pandas or pyarrow at ``import pprl_spark``."""
    import gc

    import pprl_spark.sketch.spark_agg  # noqa: F401
    import pprl_spark.spark.match  # noqa: F401

    assert gc.get_freeze_count() == 0
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHON_WORKER_FACTORY_SECRET", "PYTHON_UNIX_DOMAIN_ENABLED")}
    out = subprocess.run(
        [sys.executable, "-c", "import gc, sys, pprl_spark; print(gc.get_freeze_count(), "
         "sorted({'pandas', 'pyarrow'} & set(sys.modules)))"],
        env=env, cwd=_ROOT,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["0", "[]"], out.stdout
