#!/usr/bin/env python3
"""Compare two BENCH_FULL.json artifacts per row; the cross-round judge.

Usage: python3 scripts/bench_compare.py <old.json> <new.json> [threshold_pct] [--force]

Prints queries whose |delta| exceeds the threshold (default 15%) on a
meaningful base (max(old, new) > 0.2s), plus totals.

Window normalization: when BOTH artifacts carry `window_factor` (the
fixed synthetic canary timed first in a fresh session; 1.0 = the pinned
reference window), every new-side time is divided by the factor RATIO
(new_factor / old_factor) before the delta test — a run recorded in a
1.5x-degraded host window no longer reads as a 50% engine regression.
The raw (unnormalized) numbers are still what gets printed, alongside
the ratio, so nothing is hidden by the adjustment.

Run quality: every comparison prints each side's own `run_quality`
verdict. An artifact without one cannot be qualified, and a DEGRADED
side makes the whole comparison meaningless, so the script REFUSES
(exit 2) in either case unless --force is given, and then annotates
every line as tainted.

Same machine shape: the two sides must record the same `cores` and the
same scale factor (`sf`, compared by its directory name, e.g. `sf0.1`).
A side missing either field, or a mismatch, is refused the same way: a
4-core run against a 32-core run, or sf0.01 against sf0.1, measures the
host, not the engine.

Row screen: a row of `queries`, `served` or `skew_demo` whose seconds
on one side are more than 3x AND more than 1 s above the other side's
prints a ROW ANOMALY line (with each side's timed-run range when both
artifacts carry a `runs` block) and forces a nonzero exit.

Exit: 2 refused, 1 a FLAG or a ROW ANOMALY, 0 otherwise.
"""
import json, os, sys

BLOCKS = ("queries", "served", "skew_demo")

def load(path):
    """A bench artifact: either the engine's own full format (has a
    `queries` map) or the driver's wrapper `{n, rc, tail, parsed}` —
    e.g. `git show 88ece81:BENCH_r14.json` — which wraps
    the run and truncates `parsed.queries`, with
    `parsed.full` naming the full artifact the driver committed beside
    it. Resolve the pointer (same directory, value-matched so a later
    run overwriting that file can't masquerade as this one); fall back
    to the truncated map with a loud note."""
    art = json.load(open(path))
    if "queries" in art:
        return art
    p = art.get("parsed")
    if not isinstance(p, dict) or "queries" not in p:
        sys.exit(f"{path}: no queries map (neither full format nor driver wrapper)")
    full = p.get("full")
    if isinstance(full, str):
        cand = os.path.join(os.path.dirname(os.path.abspath(path)), full)
        if os.path.exists(cand):
            f = json.load(open(cand))
            # require the value field PRESENT on both sides: None == None
            # would let a later value-less run masquerade as this one
            if ("queries" in f and "value" in f and "value" in p
                    and f["value"] == p["value"]):
                return f
    print(f"NOTE: {path} is a driver wrapper whose full artifact "
          f"({full!r}) is missing or from a different run — comparing its "
          f"TRUNCATED query map ({len(p['queries'])} rows)")
    return p

def anomalous(hi, lo):
    return hi > 3 * lo and hi - lo > 1.0

def run_range(art, row):
    runs = art.get("runs", {}).get(row)
    return f"{min(runs):.2f}-{max(runs):.2f}s" if runs else "n/a"

def row_anomalies(old, new):
    """(block, row, old_sec, new_sec) for every shared row where one side
    is more than 3x and more than 1 s above the other."""
    out = []
    for block in BLOCKS:
        ob, nb = old.get(block, {}), new.get(block, {})
        for k in sorted(set(ob) & set(nb)):
            a, b = ob[k], nb[k]
            if anomalous(a, b) or anomalous(b, a):
                out.append((block, k, a, b))
    return out

def quality_note(art):
    q = art.get("run_quality", "none")
    drift = art.get("canary_drift")
    return q + (f" (canary_drift {drift:.3f})" if isinstance(drift, (int, float)) else "")

def main():
    args = [a for a in sys.argv[1:] if a != "--force"]
    force = "--force" in sys.argv[1:]
    old = load(args[0])
    new = load(args[1])
    thr = float(args[2]) / 100 if len(args) > 2 else 0.15
    oq, nq = old["queries"], new["queries"]
    wf_old, wf_new = old.get("window_factor", 0), new.get("window_factor", 0)
    wratio = (wf_new / wf_old) if wf_old and wf_new and wf_old > 0 and wf_new > 0 else 1.0

    print(f"run_quality old: {quality_note(old)}  new: {quality_note(new)}")
    for side, art in (("old", old), ("new", new)):
        if art.get("row_anomalies"):
            print(f"within-run row anomalies ({side}): {', '.join(art['row_anomalies'])}")
    refused = [(s, "has no run_quality field") for s, a in (("old", old), ("new", new))
               if "run_quality" not in a]
    refused += [(s, "is run_quality=degraded") for s, a in (("old", old), ("new", new))
                if a.get("run_quality") == "degraded"]
    for field, norm in (("cores", lambda v: v),
                        ("sf", lambda v: os.path.basename(os.path.normpath(str(v))))):
        missing = [s for s, a in (("old", old), ("new", new)) if field not in a]
        refused += [(s, f"has no {field} field") for s in missing]
        if not missing and norm(old[field]) != norm(new[field]):
            refused.append(("new", f"has {field}={new[field]} against the old {old[field]}"))
    if refused:
        why = "; ".join(f"the {s} artifact {r}" for s, r in refused)
        if not force:
            print(f"REFUSING comparison: {why} (pass --force to compare anyway)")
            sys.exit(2)
        print(f"WARNING (--force): comparing although {why} — every delta below is TAINTED")
    taint = " [TAINTED]" if refused else ""

    shared = sorted(set(oq) & set(nq))
    flagged = []
    for k in shared:
        a, b = oq[k], nq[k]
        if max(a, b) <= 0.2:
            continue
        d = (b / wratio - a) / a
        if abs(d) > thr:
            flagged.append((k, a, b, d))
    print(f"shared queries: {len(shared)}  old total: {sum(oq[k] for k in shared):.1f}s"
          f"  new total: {sum(nq[k] for k in shared):.1f}s"
          + (f"  window ratio new/old: {wratio:.2f} (normalized)" if wratio != 1.0
             else "  (no window normalization)") + taint)
    for k, a, b, d in sorted(flagged, key=lambda x: -abs(x[3])):
        print(f"  FLAG {k}: {a:.2f} -> {b:.2f} ({d*100:+.0f}% window-normalized){taint}")
    anomalies = row_anomalies(old, new)
    both_runs = "runs" in old and "runs" in new
    for block, k, a, b in anomalies:
        ranges = (f"  runs old {run_range(old, k)}, new {run_range(new, k)}"
                  if both_runs else "")
        print(f"  ROW ANOMALY {block}.{k}: {a:.2f} -> {b:.2f} (one side > 3x and "
              f"> 1 s above the other){ranges}{taint}")
    new_only = sorted(set(nq) - set(oq))
    if new_only:
        print(f"new-only queries: {', '.join(new_only)}")
    sys.exit(1 if flagged or anomalies else 0)

if __name__ == "__main__":
    main()
