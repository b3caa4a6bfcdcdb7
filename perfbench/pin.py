"""Rewrite ``digests.json``: the input digests the benchmark refuses to run
without.  Run it only for a change that is meant to change a workload's
inputs (a new size, a generator change), and say so in the change.

    python3 perfbench/pin.py            # seeds 0..24 of every workload
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402

SEEDS = range(25)


def main() -> None:
    # regenerate from scratch against empty pins, so neither a stale cache
    # nor the old pins decide the new digests
    shutil.rmtree(inputs.CACHE, ignore_errors=True)
    with open(inputs.PINS, "w") as f:
        json.dump({"canonical_forest": {}, "inputs": {}}, f)
    pins = {"canonical_forest": {}, "inputs": {}}
    for workload, size in sorted(inputs.SIZES.items()):
        for seed in SEEDS:
            data = inputs.ensure_inputs(workload, seed, size)
            pins["inputs"][f"{workload}-s{seed}-n{size}"] = inputs.files_digest(data)
        if workload == "structure":
            pins["canonical_forest"][str(size)] = inputs.canonical_rows(size)[0]
    with open(inputs.PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")

if __name__ == "__main__":
    main()
