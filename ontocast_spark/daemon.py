"""Spark's Python daemon for this package: ``spark.python.daemon.module``
as :func:`ontocast_spark.session.build_spark` sets it.

Spark forks every Python worker from one daemon process; without worker
reuse each task gets a fresh one. Before it starts ``pyspark.daemon``'s
fork loop, this daemon imports once what each of those workers would
otherwise import anew: ``pyarrow`` with the pandas module its list
conversion loads, and the task body ``kernels.construct`` with every
kernel it calls, which builds (once per machine) and loads the native
entity grouper. It loads code only, never data, so a forked worker
starts with empty caches. Everything loaded is then frozen out of the
cyclic garbage collector (:func:`gc.freeze`), so a worker's collections
neither scan those objects nor write to their pages, which would copy
each page into the worker. A preload that fails is logged and skipped;
the workers then import on demand. Importing this module preloads
nothing; running it (``python -m ontocast_spark.daemon``, as Spark
does) preloads, then serves.
"""

import gc
import logging
import time

log = logging.getLogger("ontocast_spark.daemon")


def preload() -> None:
    """Import what every fused task needs; log what and how long, or why
    not (a failure only leaves the imports to the workers)."""
    started = time.perf_counter()
    try:
        import pyarrow as pa

        pa.array([""])  # pyarrow 16 imports pandas at its first list conversion

        from .kernels import construct  # noqa: F401
    except Exception:
        log.warning("worker preload skipped; workers import on demand", exc_info=True)
    else:
        log.info("worker preload: pyarrow, pandas, kernels.construct in %.2f s",
                 time.perf_counter() - started)


if __name__ == "__main__":
    # the daemon's stderr is the executor's log
    handler = logging.StreamHandler()
    handler.setFormatter(logging.Formatter("%(levelname)s %(name)s: %(message)s"))
    logging.getLogger("ontocast_spark").addHandler(handler)
    logging.getLogger("ontocast_spark").setLevel(logging.INFO)
    preload()

    from pyspark.daemon import manager

    gc.freeze()
    manager()
