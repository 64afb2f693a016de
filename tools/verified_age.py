#!/usr/bin/env python
"""Print driver-verified age per queries() gate.

Scans CORRECTNESS_r*.json for the latest round in which each gate had a
fully-green row (rows+schema+hash) and prints one line per gate, stalest
first.  Gates never driver-verified sort before everything else.  Use this
to choose the first-50 window rotation each round: stalest green first,
plus anything whose implementation changed since its last green row.

Usage: python tools/verified_age.py [--repo DIR]
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--project", action="store_true",
                    help="also project post-round ages assuming every "
                         "window gate (and every sub-gate a window "
                         "composite covers) goes green this round — "
                         "the guarantee check to run BEFORE adding a "
                         "new gate or queueing a changed one")
    ap.add_argument("--new-gates", type=int, default=0,
                    help="with --project: simulate registering N "
                         "additional brand-new gates (each consumes a "
                         "window slot from the stale tail)")
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    import __spark_entry__ as entry_mod

    gates = list(entry_mod.queries())
    # the entry module's history is canonical: it folds _COVERS
    # composite greens into sub-gate ages, exactly what the rotation
    # sorts on.
    hist = entry_mod._verification_history()

    def sort_key(g: str):
        h = hist.get(g)
        if h is None:
            return (0, 0, g)            # never verified: stalest of all
        green, red = h
        if red is not None and (green is None or red > green):
            return (1, red, g)          # regressed after last green
        return (2, green, g)            # green in round; older = staler

    window_n = getattr(entry_mod, "WINDOW", 50)
    print(f"{'gate':34s} {'status':>16s}  window-pos")
    window = {g: i + 1 for i, g in enumerate(gates[:window_n])}
    for g in sorted(gates, key=sort_key):
        h = hist.get(g)
        if h is None:
            status = "NEVER"
        elif h[1] is not None and (h[0] is None or h[1] > h[0]):
            was = f" (was r{h[0]})" if h[0] is not None else ""
            status = f"RED r{h[1]}{was}"
        else:
            status = f"r{h[0]}"
        pos = str(window.get(g, "-"))
        print(f"{g:34s} {status:>16s}  {pos}")

    # headline staleness number (round-10 verdict #8's done-criterion):
    # max green-age among verified-and-green gates, relative to the
    # newest ledger round, EXCLUDING gates already queued in this
    # round's window (they are about to refresh).
    rounds = [h[0] for h in hist.values() if h[0] is not None]
    if rounds:
        cur = max(max(rounds),
                  max((h[1] or 0) for h in hist.values()))
        ages = [cur - h[0] for g, h in hist.items()
                if h[0] is not None and g not in window
                and not (h[1] is not None and h[1] > h[0])]
        if ages:
            print(f"\nmax green-age outside this round's window: "
                  f"{max(ages)} round(s) (current=r{cur})")

    if args.project and rounds:
        nxt = cur + 1
        eff_window = gates[:max(window_n - args.new_gates, 0)]
        wset = set(eff_window)
        covered = {s for c, subs in
                   getattr(entry_mod, "_COVERS", {}).items()
                   if c in wset for s in subs}
        bad = []
        for g in gates:
            if g in wset or g in covered:
                continue
            h = hist.get(g)
            if h and h[0] is not None and \
                    not (h[1] is not None and h[1] > h[0]) and \
                    nxt - h[0] > 2:
                bad.append(g)
        tag = (f" with {args.new_gates} extra new gate(s)"
               if args.new_gates else "")
        if bad:
            print(f"PROJECTED r{nxt}{tag}: {len(bad)} gate(s) would "
                  f"exceed green-age 2: {bad}")
            return 1
        print(f"PROJECTED r{nxt}{tag}: all gates stay within "
              f"green-age <= 2 (window + coverage refresh everything "
              f"stale)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
