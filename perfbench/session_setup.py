"""Spark session start and stop, as the benchmark times them."""

import subprocess
import time


def start(app: str):
    """The package's session plus one warm-up action.

    Returns (spark, start_s, warmup_s).
    """
    from maap_data_pipelines_spark.session import get_spark

    t = time.time()
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, t1 - t, time.time() - t1


def stop(spark) -> None:
    """Stop the session and wait until its JVM has exited; the next
    :func:`start` launches a fresh JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
