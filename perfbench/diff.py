#!/usr/bin/env python3
"""Compare two traced artifacts layer by layer.

    python3 perfbench/diff.py perfbench/out/A.json perfbench/out/B.json

An artifact is what ``run.py --trace 1`` writes to ``perfbench/out/``.
Metrics are grouped by layer (the name up to its first dot, or up to
the query name for ``op.<query>.*``); each row shows A, B, B - A and
the change relative to A. Rows that did not move are omitted unless
``--all`` is given.
"""

from __future__ import annotations

import argparse
import json
import sys
from collections import defaultdict


def layer(name: str) -> str:
    parts = name.split(".")
    return ".".join(parts[:2]) if parts[0] == "op" else parts[0]


def rows(a: dict, b: dict, show_all: bool):
    """(layer, metric, a, b, delta, relative change or None) per metric."""
    for name in sorted(set(a) | set(b), key=lambda n: (layer(n), n)):
        va, vb = a.get(name), b.get(name)
        if va is None or vb is None:
            yield layer(name), name, va, vb, None, None
            continue
        delta = vb - va
        if delta == 0 and not show_all:
            continue
        yield layer(name), name, va, vb, delta, (delta / va if va else None)


def load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--all", action="store_true", help="also list unchanged metrics")
    args = ap.parse_args(argv)
    art_a, art_b = load(args.a), load(args.b)
    for key in ("workload", "seed", "units", "cpus"):
        if art_a.get(key) != art_b.get(key):
            print(f"note: {key} differs: {art_a.get(key)} vs {art_b.get(key)}")
    by_layer = defaultdict(list)
    for row in rows(art_a["metrics"], art_b["metrics"], args.all):
        by_layer[row[0]].append(row[1:])
    print(f"{'metric':48} {'A':>12} {'B':>12} {'B-A':>12} {'rel':>8}")
    for name in sorted(by_layer):
        print(f"[{name}]")
        for metric, va, vb, delta, rel in by_layer[name]:
            fa = "-" if va is None else f"{va:12.4f}"
            fb = "-" if vb is None else f"{vb:12.4f}"
            fd = "" if delta is None else f"{delta:+12.4f}"
            fr = "" if rel is None else f"{rel:+8.1%}"
            print(f"  {metric:46} {fa:>12} {fb:>12} {fd:>12} {fr:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
