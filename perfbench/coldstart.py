"""One cold set-up of the engine, in a process of its own.

    python3 perfbench/coldstart.py WORK_DIR

Starts the Spark session the benchmark uses (launching its JVM), imports
the query catalog and loads it, then prints one JSON line
``{"session_start_s", "load_all_s"}`` and stops the session and the JVM.
The clock starts after the benchmark's own imports and before any import
of pyspark or of the engine's modules, so JVM launch and catalog import
time count, as they do for a user starting the engine.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from harness import Session  # noqa: E402


def main(work: str) -> None:
    session = Session(work)
    try:
        t0 = time.perf_counter()
        session.start()
        t1 = time.perf_counter()
        from nyc_traffic_insight_spark.queries import load_all

        load_all()
        t2 = time.perf_counter()
    finally:
        session.close()
    print(json.dumps({"session_start_s": t1 - t0, "load_all_s": t2 - t1}))


if __name__ == "__main__":
    main(sys.argv[1])
