"""One cold set-up of the benchmark in this process: session build, catalog
import and the warm-up query, then stop the session and its JVM.

``run.py`` starts it with the environment it prepared and the fixture
directory as the only argument; the last line of standard output is the
set-up's timings as JSON.
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from run import Runner, shutdown_jvm  # noqa: E402
from spans import Tracer  # noqa: E402


def main() -> None:
    runner = Runner([], sys.argv[1], Tracer("setup", enabled=False))
    try:
        timings = runner.setup()
    finally:
        runner.stop()
        shutdown_jvm()
    print(json.dumps(timings), flush=True)


if __name__ == "__main__":
    main()
