"""Service launcher: runs `gigapipe_spark.__main__.main()`, which is what
`python -m gigapipe_spark` runs, configured by the environment.

With `--trace 1` it first installs the span wrappers (tracer.install),
so the service runs with span recorders around every layer; SIGUSR1
marks the start of the measured phase, SIGUSR2 its end, and the
recorded spans and parquet appends are written to `--spans` when the
service stops.

Usage: python3 perfbench/launcher.py --trace 0|1 [--spans PATH]
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH_DIR))
sys.path.insert(0, BENCH_DIR)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args()
    rec = None
    if args.trace:
        import tracer

        tracer.install()
        rec = tracer.REC

        def _on(*_):
            rec.enabled = True

        def _off(*_):
            rec.enabled = False

        signal.signal(signal.SIGUSR1, _on)
        signal.signal(signal.SIGUSR2, _off)
    from gigapipe_spark.__main__ import main as service_main

    rc = service_main()
    if rec is not None and args.spans:
        rec.enabled = False
        tmp = args.spans + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec.dump(), f)
        os.replace(tmp, args.spans)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
