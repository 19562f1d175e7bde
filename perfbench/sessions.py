"""Spark session lifecycle for the benchmark: every session gets its own
freshly launched driver JVM, and stopping one waits until the JVM and
every Python worker under it have exited."""

from __future__ import annotations

import os
import signal
import time

from procmon import descendants, wait_gone


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start(extra: dict[str, str] | None = None):
    """``build_session`` defaults plus an explicit ``local[nproc]``
    master.  Returns ``(spark, build_seconds)``."""
    from atr_adaptive_laguerre_spark.engine.session import build_session

    t0 = time.perf_counter()
    spark = build_session(app="perfbench", master=f"local[{cores()}]",
                          extra=extra)
    build_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, build_s


def stop(spark) -> None:
    """Stop the session, shut the JVM down and reap everything it
    started, so the next ``start`` launches a cold JVM."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    try:
        spark.stop()
    except Exception:       # a dead JVM cannot stop cleanly; reap below
        pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if not wait_gone(kids, timeout_s=20):
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        wait_gone(kids, timeout_s=10)


def jvm_alive(spark) -> bool:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc is not None and proc.poll() is None


def gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = (spark._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0
