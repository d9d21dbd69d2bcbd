"""Time one cold start of the engine's Spark session in a fresh process.

    python3 perfbench/coldstart.py DATA_DIR

Launches the JVM and the session the way a benchmark run does, resolves
every input table under DATA_DIR (the warm-up), stops the session and its
JVM, and prints ``{"session": [start, end], "warmup": [start, end]}`` in
epoch seconds as the last line. ``run.py`` calls it for the set-up
samples beyond the run's own cold start.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
from measure import Tracer


def main() -> None:
    tmp = run.WORK / "tmp" / f"{os.getpid()}"
    run.set_environment(tmp)
    # import the engine before the clock starts, as run.py does
    import etl_master_spark.plans.registry  # noqa: F401

    tracer = Tracer()
    session = run.Session(sys.argv[1])
    try:
        session.open(tracer, tracer.start("cold start", "setup"))
    finally:
        session.close()
    shutil.rmtree(tmp, ignore_errors=True)
    spans = {s.kind: [s.start, s.end] for s in tracer.spans if s.kind != "setup"}
    print(json.dumps({"session": spans["session"], "warmup": spans["warmup"]}))


if __name__ == "__main__":
    main()
