"""Regenerate the node-free fidelity golden (tests/data/fidelity_golden.json).

Prints every key whose digest changed, appeared or disappeared, then
rewrites the file. A changed digest is a change of extracted text: record
each one and its cause in CHANGES.md.

Usage: python scripts/regen_golden.py
"""

from __future__ import annotations

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
from tests import fidelity_golden as fg  # noqa: E402


def main() -> int:
    old = fg.load() if fg.GOLDEN.exists() else {}
    new = {k: fg.digest(raw) for k, raw in fg.all_inputs().items()}
    for k in sorted(old.keys() | new.keys()):
        if k not in new:
            print(f"removed {k}")
        elif k not in old:
            print(f"added   {k}")
        elif old[k] != new[k]:
            what = "input" if old[k][0] != new[k][0] else "output"
            print(f"changed {k} ({what})")
    fg.dump(new)
    print(f"{len(new)} digests written to {fg.GOLDEN}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
