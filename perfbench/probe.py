"""Set-up probe: a fresh interpreter builds the entry point's session
and runs a one-row job.

    python3 perfbench/probe.py submit|cli

``submit`` uses ``session.get_submit_spark`` (what ``jobs/run_pipeline.py``
calls) and ``cli`` uses ``session.get_spark`` (what ``jobs/tripsu_cli.py``
calls). Prints one JSON line: the wall-clock time at which the job
finished, then the session's effective master, driver memory, JVM heap
and versions.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tripsu_spark import session  # noqa: E402


def main() -> int:
    spark = (
        session.get_submit_spark("perfbench-probe") if sys.argv[1] == "submit"
        else session.get_spark(app_name="perfbench-probe")
    )
    spark.range(1).count()
    ready = time.time()
    sc = spark.sparkContext
    jvm = sc._jvm
    print(json.dumps({
        "ready_epoch": ready,
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory", "1g (Spark default)"),
        "max_heap_mb": int(jvm.java.lang.Runtime.getRuntime().maxMemory()) // 2**20,
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
    }), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
