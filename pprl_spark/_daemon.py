"""Python worker daemon of local ``get_spark`` sessions.

Spark starts its worker daemon as ``python -m <spark.python.daemon.module>``
and forks every Python worker from it.  Running this module imports the
``pprl_spark`` package first, and the daemon's env marks it as a Spark
worker, so the package's worker-only set-up (``pprl_spark/__init__.py``)
runs here once, before any fork: numpy, pandas and pyarrow are loaded,
the zip backport is installed and the heap is frozen.  Every worker
starts with that heap and shares its pages with the daemon copy-on-write
instead of importing it again.
"""

if __name__ == "__main__":
    import gc

    from pyspark import daemon

    # pyspark.daemon loads pyspark.worker (~14k objects) after the package
    # set-up has frozen the heap; freeze those too, or every worker's
    # per-task gc.collect() would walk them.
    gc.freeze()
    daemon.manager()
