"""One set-up sample in a fresh process: seconds from process start until
the session is ready, printed as JSON on the last line of stdout.

    python3 perfbench/setup_probe.py <work_dir>
"""

import time

T0 = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.spark_env import prepare_env, start_session, stop_session  # noqa: E402


def main() -> None:
    work = sys.argv[1]
    prepare_env(ROOT, work)
    spark = start_session(work)
    setup_s = time.perf_counter() - T0
    stop_session(spark)
    print(json.dumps({"setup_s": setup_s}))


if __name__ == "__main__":
    main()
