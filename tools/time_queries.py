"""Isolated per-query timing: noop-sink, best-of-N, warm session.

Usage: python tools/time_queries.py <sf_dir> <query> [query ...]
Env: TQ_RUNS (default 3), TQ_CPUS (default: the CPU count), TQ_SP (default 8 —
matches the bench battery's shuffle width).

Mirrors bench.py's methodology (same session defaults, cached-table
warm-up, noop sink) for quick A/B of one operator without the full
battery.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from pangeo_forge_recipes_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    runs = int(os.environ.get("TQ_RUNS", "3"))
    cpus = os.environ.get("TQ_CPUS") or str(os.cpu_count() or 1)
    sp = os.environ.get("TQ_SP", "8")
    spark = get_spark(
        app_name="pfrs-timequeries", master=f"local[{cpus}]",
        shuffle_partitions=int(sp),
    )
    qs = entrymod.queries()
    entrymod._register(spark, sf_dir)
    for t in entrymod.TABLES:
        try:
            spark.table(t).count()
        except Exception:
            pass
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    for name in names:
        fn = qs[name]
        walls = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 3))
        try:
            load = round(os.getloadavg()[0], 1)
        except OSError:
            load = None
        print(f"RESULT {name}: best={min(walls)} runs={walls} load={load}",
              flush=True)


if __name__ == "__main__":
    main()
