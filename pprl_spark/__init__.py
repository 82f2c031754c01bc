"""pprl_spark — PySpark-native privacy-preserving record linkage + sketch
analytics engine.

A from-scratch Spark-first re-expression of the capabilities of
ul-mds/pprl (reference at /root/reference): transform → mask (Bloom
encodings) → LSH-blocked Dice matching, plus a mergeable-sketch UDAF
library (HLL / count-min / KLL / t-digest / Bloom), web-scale dedup and
text-analysis operators, and a checkpointed, resumable staged pipeline.
"""

__version__ = "0.1.0"

from . import _zipcache

if _zipcache.in_spark_worker():
    # Worker-only set-up.  A local get_spark session runs it once, in the
    # daemon every worker is forked from (pprl_spark/_daemon.py), so each
    # worker starts with this heap loaded, frozen and shared copy-on-write.
    # Under pyspark.daemon (cluster masters) it runs once per worker
    # process, when the first of this package's UDFs is unpickled there.
    # pyspark.daemon runs a full gc.collect() in a reused worker after
    # every task, and a worker that has loaded numpy, pandas and pyarrow
    # tracks ~74k objects (25-55 ms of CPU per collection).  gc.freeze()
    # moves them to the permanent generation, which no collection walks;
    # objects made later are collected as before.  The three are imported
    # first because every library UDF loads them anyway and they hold
    # about half of that heap.  No collection runs first: it would free a
    # few hundred import-time objects for ~40 ms per process, paid per
    # task without worker reuse.
    import gc

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    _zipcache.install()
    gc.freeze()
