"""Record the output pins that ``run.py`` checks, one run per workload
and seed, from the repository root::

    python3 perfbench/record_pins.py kg_flat,kg_megatail 42 1 2
    python3 perfbench/record_pins.py kg_megatail 42 1 --trace

A pin is a count a workload's run produced for one seed: ``triples``
from every run, and with ``--trace`` also the traced run's
``crossdoc_mapping_rows``. Re-record them only when a change is meant to
alter the output, and say so in the change.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TRACED_PINS = ("crossdoc_mapping_rows",)


def report(workload: str, seed: int, trace: bool) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(int(trace))],
        capture_output=True, text=True, timeout=600, check=True)
    lines = out.stdout.splitlines()
    return json.loads("\n".join(lines[lines.index("{"):-1]))


def main(argv: list[str]) -> None:
    trace = "--trace" in argv
    argv = [a for a in argv if a != "--trace"]
    workloads, seeds = argv[0].split(","), argv[1:]
    path = os.path.join(HERE, "pins.json")
    with open(path) as fh:
        pins = json.load(fh)
    for w in workloads:
        for seed in seeds:
            r = report(w, int(seed), trace)
            pin = pins.setdefault(w, {}).setdefault(seed, {})
            pin["triples"] = r["outputs"]["triples"]
            if r["finish"]:
                pin.update({k: v for k, v in r["finish"][0].items() if k in TRACED_PINS})
            print(w, seed, pin, flush=True)
    with open(path, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main(sys.argv[1:])
