#!/usr/bin/env python3
"""Surveys the validation service's requests: sends every golden case and the
LUBM request, warm, and prints per request its Spark jobs and latency. The
`shacl_service` workload's request mix is chosen from this distribution.

    python3 perfbench/survey.py [--warm 2] [--rounds 3]

Run it from the root of a checkout; it builds like run.py does. Takes about
seven minutes on 4 cores.
"""
import argparse
import os
import time

import run


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--warm", type=int, default=2, help="unmeasured rounds over all requests")
    ap.add_argument("--rounds", type=int, default=3, help="measured rounds over all requests")
    args = ap.parse_args()
    run.build()
    work = os.path.join(run.RUN_DIR, f"survey-{os.getpid()}")
    print(run.java("graftbench.Survey", ["--warm", str(args.warm), "--rounds", str(args.rounds)], work,
                   time.monotonic() + 3600), end="")


if __name__ == "__main__":
    main()
