"""The pinned session settings and the process plumbing around them."""

from __future__ import annotations

import os
import tempfile


def cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_gb() -> int:
    """A sixth of host RAM, between 2 and 16 GiB: the inputs are a few
    MB, and the machine may be shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(2, min(16, total_kb // (6 * 1024 * 1024)))


def configure(root: str, work: str) -> dict[str, str]:
    """Point every scratch path the package, Spark and the JVM use at
    ``work`` (inside the checkout), pin parallelism and heap, and return
    the extra Spark conf for ``get_spark``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Neither JVM (Spark's launcher, the Spark driver) writes hsperfdata
    # to /tmp.
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env = {
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "SPARK_SUBMIT_OPTS": " ".join(
            p for p in (os.environ.get("SPARK_SUBMIT_OPTS"), jvm_opts) if p
        ),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb()}g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        # Python workers (pandas UDFs, foreachBatch) import the package.
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    # A fixed heap and young generation, so peak RSS does not hinge on
    # when the collector resizes either.
    heap = heap_gb()
    return {
        "spark.driver.extraJavaOptions": f"{jvm_opts} -Xms{heap}g -Xmn{heap * 256}m"
    }


def shutdown(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
