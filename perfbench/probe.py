"""Set-up probe and the Spark start/stop helpers the benchmark shares with it.

Run as a script, it times one cold start -- from the top of this file to a
built session that has run one trivial Python-UDF job -- prints
``{"setup_s": ...}`` and stops everything it started. The benchmark launches
it beside its own start so that one run yields several set-up samples.
"""

import time

T0 = time.perf_counter()

import json  # noqa: E402
import subprocess  # noqa: E402


def trivial_udf_job(spark) -> None:
    """One tiny job through a Python UDF: starts the Python worker daemon."""
    from pyspark.sql import functions as F

    plus_one = F.udf(lambda x: x + 1, "long")
    rows = spark.range(8).select(plus_one("id").alias("y")).collect()
    if sorted(r.y for r in rows) != list(range(1, 9)):
        raise RuntimeError("trivial UDF job returned wrong rows")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()  # raises if the JVM is already gone
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway server exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def main() -> None:
    from pangeo_forge_recipes_spark.session import get_spark

    spark = get_spark()
    try:
        trivial_udf_job(spark)
        setup_s = time.perf_counter() - T0
    finally:
        stop_spark(spark)
    print(json.dumps({"setup_s": setup_s}), flush=True)


if __name__ == "__main__":
    main()
