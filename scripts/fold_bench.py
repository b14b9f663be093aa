#!/usr/bin/env python3
"""Refresh BENCH_PRIOR.json (the per-key minima fold) from one or more
bench runs. Keys listed in RESET take the MINIMUM OF THE NEW RUNS ONLY
(deliberate plan change — the win_event_pattern precedent); all other
keys fold min(old, new...); new keys enter at their run minimum.

Usage: python3 scripts/fold_bench.py run1.json [run2.json ...]
(each runN.json is one Bench output line containing "queries")
"""
import json
import sys

RESET = {
    # r17: empty — the r16 duplicate-collapse resets (sim_ann_* +
    # mm_ann_topk, SCALE.md §14.3) are already baked into the fold;
    # re-listing them would discard those floors for slower-host
    # minima. Repopulate ONLY on a deliberate plan change.
}


def load_run(path):
    best = None
    for line in open(path):
        line = line.strip()
        if not line:
            continue
        try:
            d = json.loads(line)
        except json.JSONDecodeError:
            continue
        # Bench prints a per-family subtotal line (fam_* keys) after the
        # per-query line; folding it would add fam_* keys as queries
        if "queries" in d and not all(k.startswith("fam_") for k in d["queries"]):
            best = d
    assert best, f"{path}: no bench line with queries"
    return best


def main():
    prior = json.load(open("BENCH_PRIOR.json"))
    runs = [load_run(p) for p in sys.argv[1:]]
    out = dict(prior["queries"])
    keys = set(out)
    for r in runs:
        keys |= set(r["queries"])
    for k in sorted(keys):
        vals = [r["queries"][k] for r in runs if k in r["queries"]]
        if not vals:
            continue  # key kept from prior fold only
        if k in RESET or k not in out:
            out[k] = min(vals)
        else:
            out[k] = min(out[k], *vals)
    total = round(sum(out.values()), 3)
    json.dump({"metric": "total", "value": total, "unit": "sec",
               "queries": out, "sf": prior.get("sf")},
              open("BENCH_PRIOR.json", "w"))
    print(f"fold: {len(out)} keys, total {total} s "
          f"({len([k for k in out if k in RESET])} reset)")


if __name__ == "__main__":
    main()
