"""Record the output digests the benchmark's correctness gate pins.

    python3 perfbench/pin.py --workload crawl_durable --seeds 0 19

Runs one call per seed in a single Spark session and writes each digest
to ``pins.json`` under the size and workload (``extract_bulk`` does not
depend on the seed and is pinned once, as ``any``). Re-pin only when a
change is meant to alter what the engine extracts or crawls.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["extract_bulk", "crawl_durable"])
    ap.add_argument("--seeds", type=int, nargs=2, default=[0, 0],
                    metavar=("FIRST", "LAST"))
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    args = ap.parse_args()
    sys.path.insert(0, run.ROOT)
    from workloads import SHAPES, WORKLOADS

    workdir = run.make_workdir("pin")
    w = WORKLOADS[args.workload](SHAPES[args.size][args.workload], workdir)
    sess = run.Session(workdir)
    path = os.path.join(HERE, "pins.json")
    with open(path) as f:
        pins = json.load(f)
    got = pins.setdefault(args.size, {}).setdefault(args.workload, {})
    try:
        spark = sess.start()
        w.setup(spark)
        urls = [r["url"] for r in w.pages.select("url").collect()]
        seeds = (["any"] if args.workload == "extract_bulk"
                 else range(args.seeds[0], args.seeds[1] + 1))
        for seed in seeds:
            w.choose(urls, 0 if seed == "any" else seed)
            got[str(seed)] = w.call(spark).digest
            run.log(f"{args.workload} seed {seed}: {got[str(seed)]}")
    finally:
        sess.close()
        shutil.rmtree(workdir, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
