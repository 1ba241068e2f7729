"""Per-row ratios between two bench records (bench.py's BENCH_FULL_*.json).

Prints NEW/BASE for every row timed in both records, slowest NEW row
first, under a header with each record's scale factor and core count.
When the two records were made at different scale factors, a row whose
ratio exceeds NEW.sf / BASE.sf grew faster than its data and is flagged
superlinear.

Usage: python tools/bench_compare.py BASE.json NEW.json
"""

from __future__ import annotations

import json
import sys


def compare(base: dict, new: dict) -> list[tuple[str, float, float, float, bool]]:
    """(name, base s, new s, ratio, superlinear) per row, slowest new first."""
    scale = new["sf"] / base["sf"] if new["sf"] != base["sf"] else None
    rows = []
    for name, t in new["queries"].items():
        b = base["queries"].get(name, -1.0)
        if t > 0 and b > 0:
            rows.append((name, b, t, t / b, scale is not None and t / b > scale))
    return sorted(rows, key=lambda r: -r[2])


def load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = map(load, argv)
    for tag, path, rec in (("BASE", argv[0], base), ("NEW", argv[1], new)):
        print(f"{tag:4s} {path}: sf{rec['sf']} c{rec.get('cpus', '?')}, "
              f"{len(rec['queries'])} rows, total {rec['value']}s")
    rows = compare(base, new)
    print(f"{'query':36s} {'base_s':>9s} {'new_s':>9s} {'new/base':>9s}")
    for name, b, t, r, flag in rows:
        print(f"{name:36s} {b:9.3f} {t:9.3f} {r:9.2f}"
              + ("  SUPERLINEAR" if flag else ""))
    if new["sf"] != base["sf"]:
        print(f"{sum(r[4] for r in rows)} of {len(rows)} rows above the sf "
              f"ratio {new['sf'] / base['sf']:g}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
