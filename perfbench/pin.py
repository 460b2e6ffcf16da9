#!/usr/bin/env python3
"""Pin output digests from the detail lines of benchmark runs.

    for s in $(seq 0 15); do
        python3 perfbench/run.py --workload media_decode --seed $s \\
            --seconds 1 --trace 0
    done | python3 perfbench/pin.py

Every run prints a detail line holding its ``pin_key`` and the digests of
each operation (see README.md, "Output checks").  A run whose operations
all passed their checks and agree on their digests is written to
perfbench/pins.json under its key.  An intended change to those outputs
makes the pinned seeds fail: delete their entries from pins.json first.
"""

from __future__ import annotations

import json
import os
import sys

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def main() -> int:
    with open(PINS) as f:
        pins = json.load(f)
    bad = 0
    for line in sys.stdin:
        try:
            detail = json.loads(line)
        except ValueError:
            continue
        if not isinstance(detail, dict) or "pin_key" not in detail:
            continue
        ops = detail["ops"]
        digests = [o["digests"] for o in ops]
        if any(o["problems"] for o in ops) or any(
                d != digests[0] for d in digests):
            print(f"{detail['pin_key']}: not pinned, the run had problems",
                  file=sys.stderr)
            bad += 1
            continue
        pins[detail["pin_key"]] = digests[0]
        print(detail["pin_key"], digests[0])
    with open(PINS, "w") as f:
        json.dump(dict(sorted(pins.items())), f, indent=1)
        f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
