"""Compare two bench.py JSON outputs query-by-query.

The r7->r8 bench investigation showed environment noise can move every
query 1.3-1.7x between rounds; this prints the per-query ratios and the
median so a uniform (environmental) shift is distinguishable from a
real per-query regression at a glance.

Usage:  python tools/bench_diff.py OLD.json NEW.json [--top 10]

Both files are raw bench.py output ({"queries": {...}}).
"""

from __future__ import annotations

import json
import statistics
import sys


def _load(path: str) -> dict[str, float]:
    with open(path) as f:
        d = json.load(f)
    if "queries" not in d:
        raise SystemExit(f"{path}: no per-query timings (not bench.py output)")
    return d["queries"]


def main() -> None:
    argv = sys.argv[1:]
    top = 10
    if "--top" in argv:
        i = argv.index("--top")
        top = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        raise SystemExit(__doc__)
    old, new = _load(args[0]), _load(args[1])
    common = sorted(set(old) & set(new))
    if not common:
        raise SystemExit("no common queries")
    ratios = {k: new[k] / old[k] for k in common if old[k] > 0}
    med = statistics.median(ratios.values())
    print(
        f"{len(common)} common queries | median ratio {med:.3f} "
        f"(uniform shift ~ environment; per-query spikes ~ code)"
    )
    print(f"only in old: {sorted(set(old) - set(new))or '-'}")
    print(f"only in new: {sorted(set(new) - set(old)) or '-'}")
    worst = sorted(ratios, key=lambda k: ratios[k], reverse=True)[:top]
    best = sorted(ratios, key=lambda k: ratios[k])[:top]
    print(f"\nworst {top} (new/old, normalized by median):")
    for k in worst:
        print(
            f"  {k:28s} {old[k]:8.3f} -> {new[k]:8.3f}  "
            f"x{ratios[k]:.2f}  (x{ratios[k] / med:.2f} vs median)"
        )
    print(f"\nbest {top}:")
    for k in best:
        print(
            f"  {k:28s} {old[k]:8.3f} -> {new[k]:8.3f}  "
            f"x{ratios[k]:.2f}  (x{ratios[k] / med:.2f} vs median)"
        )


if __name__ == "__main__":
    main()
