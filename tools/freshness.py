"""Per-gate driver-verification freshness listing.

Prints, for every gate registered in ``__spark_entry__.queries()``, the
last round in which the driver itself verified it green, stalest first.
The ledger and the green rule live in ``openeo_processes_dask_spark.gates``
(:func:`~openeo_processes_dask_spark.gates.ledger`), which also derives the
driver-window order from them; this tool only lists the ledger.

Usage::

    python tools/freshness.py [N]          # stalest N (default 60)
    python tools/freshness.py --all        # full ledger, stalest first
"""

from __future__ import annotations

import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sys.path.insert(0, REPO)
    import __spark_entry__ as e
    from openeo_processes_dask_spark.gates import ledger

    n = 60
    for a in sys.argv[1:]:
        if a.isdigit():
            n = int(a)
    green = ledger()
    last = {g: green.get(g, 0) for g in e.queries()}
    order = sorted(last, key=lambda g: last[g])
    rows = order if "--all" in sys.argv else order[:n]
    for g in rows:
        rnd = last[g]
        print(f"{'never' if rnd == 0 else f'r{rnd:02d}':>6}  {g}")
    hist = Counter(last.values())
    summary = ", ".join(
        f"{'never' if r == 0 else f'r{r}'}: {c}"
        for r, c in sorted(hist.items())
    )
    print(f"# {len(last)} gates — {summary}", file=sys.stderr)


if __name__ == "__main__":
    main()
