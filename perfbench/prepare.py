"""Prepare step: generate one workload's inputs and expected output.

    python3 perfbench/prepare.py --workload rules-dedup --seed 1

Writes the table, the ontology snapshot and the expected output under
``.perfbench/cache/<workload>-s<seed>-v<version>/`` without starting a
JVM, then exits, so none of this work is counted in the measured run's
set-up time or memory. ``run.py`` calls it when the cache entry is
missing. Exit code 0 when the entry is ready.
"""

from __future__ import annotations

import argparse
import sys

from sparkstats import STATE, configure_env


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    args = p.parse_args(argv)

    configure_env()
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](STATE, args.seed)
    wl.prepare()
    return 0 if wl.ready() else 1


if __name__ == "__main__":
    sys.exit(main())
