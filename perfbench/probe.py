"""One set-up sample: start a SparkSession the way the benchmark does, run a
trivial job, and print the seconds that took as one JSON line.

The benchmark starts ``SETUP_PROBES`` of these beside its own session start
and reports the median of all the starts as ``setup_s``.
"""

from __future__ import annotations

import json
import time

T0 = time.perf_counter()


def main() -> None:
    import hostenv

    hostenv.require_program()
    hostenv.configure()
    from ahrd_spark.session import get_spark

    spark = get_spark(app_name="perfbench-probe", extra_conf=hostenv.session_conf())
    try:
        spark.range(1).count()
        print(json.dumps({"setup_s": time.perf_counter() - T0}), flush=True)
    finally:
        hostenv.stop_spark(spark)


if __name__ == "__main__":
    main()
