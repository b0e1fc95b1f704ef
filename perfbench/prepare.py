"""Build one workload's seeded inputs, or its expected outputs.

    python3 perfbench/prepare.py inputs   --workload reviews_chisq --seed 1 --dir DIR
    python3 perfbench/prepare.py expected --workload reviews_chisq --dir DIR

``inputs`` writes the input files and ``manifest.json`` into DIR;
``expected`` reads them and writes ``expected.json`` (the oracle results),
without Spark. run.py runs the first before the Spark session starts and the
second while the session warms up, so neither is inside a timed region.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import expected  # noqa: E402
import inputs  # noqa: E402
from workloads import QUERY_MIX  # noqa: E402


def write_inputs(workload: str, seed: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    if workload == "reviews_chisq":
        manifest = inputs.write_reviews(out, seed)
    elif workload == "query_mix":
        manifest = inputs.write_tables(out, seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def write_expected(workload: str, out: str) -> dict:
    with open(os.path.join(out, "manifest.json")) as fh:
        manifest = json.load(fh)
    if workload == "reviews_chisq":
        exp = expected.reviews_expected(manifest)
    else:
        exp = expected.oracle_results(out, list(QUERY_MIX))
    with open(os.path.join(out, "expected.json.tmp"), "w") as fh:
        json.dump(exp, fh)
    os.rename(os.path.join(out, "expected.json.tmp"), os.path.join(out, "expected.json"))
    return exp


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("stage", choices=("inputs", "expected"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--dir", required=True)
    a = ap.parse_args()
    if a.stage == "inputs":
        write_inputs(a.workload, a.seed, a.dir)
    else:
        write_expected(a.workload, a.dir)


if __name__ == "__main__":
    main()
