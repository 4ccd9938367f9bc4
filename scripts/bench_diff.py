#!/usr/bin/env python3
"""Per-query bench regression gate (dev tool, driver-side python).

Compares a fresh `graft.Bench` output against the most recent prior
round's BENCH_r*.json and fails on per-query regressions, so a plan
change that slows a headline query ships with a note instead of
silently (the r5->r6 dedup regressions went unremarked because nothing
diffed the rounds).

Usage:
    sbt -batch "runMain graft.Bench" | tee /tmp/bench_out.txt
    python scripts/bench_diff.py /tmp/bench_out.txt

The current input is any text containing Bench's one JSON line
({"metric":"total",...}); the baseline is auto-discovered as the
highest-numbered BENCH_r*.json whose `tail` contains a parseable JSON
line (the driver's own `parsed` field is always null — the line sits in
`tail` behind sbt log prefixes).

A regression is flagged when a query shared with the baseline runs
> THRESHOLD slower AND > ABS_GUARD seconds slower (the absolute guard
keeps 0.1s->0.2s scheduler noise from failing the build). Waivers:
lines in BASELINE.md of the form `bench-waiver: <query_name> — reason`
exempt a named query for one round (remove the line once re-baselined).
"""
import json
import re
import sys
from pathlib import Path

THRESHOLD = 1.5
ABS_GUARD = 0.3  # seconds

REPO = Path(__file__).resolve().parent.parent


def extract(text):
    """Last Bench JSON line in arbitrary log text, parsed, or None.

    Line-based: find lines carrying the metric marker, strip any log
    prefix before the first '{', and json.loads the remainder — a
    regex that stops at the first '}' would truncate the nested
    "queries" object.
    """
    parsed = None
    for line in text.splitlines():
        if '"metric":"total"' not in line:
            continue
        start = line.find("{")
        if start < 0:
            continue
        try:
            parsed = json.loads(line[start:line.rfind("}") + 1])
        except json.JSONDecodeError:
            continue
    return parsed


def round_num(p):
    """Numeric round index from a BENCH_rN.json path (r2 < r10 < r100)."""
    m = re.search(r"BENCH_(?:LOCAL_)?r0*(\d+)\.json$", p.name)
    return int(m.group(1)) if m else -1


def canary_band():
    """(cal_healthy, degraded_factor) from CANARY.json, or (None, 1.5).

    The checked-in absolute anchor for the machine-speed canary — the
    healthy band certified across rounds 12-16. Relative cal_pre/cal_prev
    normalization can forgive drift between two runs but cannot notice
    that BOTH ran slow; the absolute anchor can.
    """
    try:
        d = json.loads((REPO / "CANARY.json").read_text())
        return d.get("cal_healthy"), d.get("degraded_factor", 1.5)
    except (OSError, json.JSONDecodeError):
        return None, 1.5


def machine_degraded(parsed):
    """True when the artifact self-stamps degraded, or (for artifacts
    predating the stamp) its cal_pre breaches the checked-in band."""
    if parsed.get("machine_degraded"):
        return True
    healthy, factor = canary_band()
    cal = parsed.get("cal_pre")
    return bool(healthy and isinstance(cal, (int, float))
                and cal > healthy * factor)


def latest_baseline():
    """Most recent BENCH_r*.json with a parseable, NON-POISONED,
    NON-DEGRADED line.

    A load-poisoned or machine-degraded artifact committed for the
    record must not become the silent comparison baseline: its inflated
    numbers would turn the next clean round into phantom improvements
    and mask real regressions. Such rounds are skipped (with a note) in
    favor of the most recent clean one.
    """
    # Baselines: the driver's BENCH_r{N}.json artifacts PLUS committed
    # BENCH_LOCAL_r{N}.json twins (a copy of Bench's BENCH_LAST_c32.json,
    # checked in at round close). The driver artifact wraps Bench's
    # stdout tail, and a tail window narrower than the (50+-query) JSON
    # line truncates it mid-stream (BENCH_r19): without the local twin,
    # an unparseable newest round silently slid the gate back a whole
    # round. Within a round the driver artifact wins; the twin only
    # fills holes.
    cands = sorted(
        list(REPO.glob("BENCH_r*.json")) + list(REPO.glob(
            "BENCH_LOCAL_r*.json")),
        key=lambda p: (round_num(p), "LOCAL" not in p.name), reverse=True)
    for p in cands:
        try:
            d = json.loads(p.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        parsed = (d if "LOCAL" in p.name else None) \
            or d.get("parsed") or extract(d.get("tail", ""))
        if parsed and parsed.get("queries"):
            if parsed.get("load_poisoned"):
                print(f"bench_diff: skipping poisoned baseline {p.name} "
                      f"(load_poisoned=true)")
                continue
            if machine_degraded(parsed):
                print(f"bench_diff: skipping machine-degraded baseline "
                      f"{p.name} (cal_pre={parsed.get('cal_pre')} vs "
                      f"healthy band {canary_band()[0]})")
                continue
            if parsed.get("release_skipped"):
                print(f"bench_diff: skipping diagnostic baseline {p.name} "
                      f"(release_skipped=true - flattered reuse regime)")
                continue
            return p.name, parsed
    return None, None


def waivers():
    base = REPO / "BASELINE.md"
    if not base.exists():
        return set()
    return set(re.findall(r"^bench-waiver:\s*(\S+)", base.read_text(), re.M))


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    cur = extract(Path(sys.argv[1]).read_text())
    if cur is None:
        sys.exit("bench_diff: no Bench JSON line found in " + sys.argv[1])
    if cur.get("load_poisoned"):
        print(f"bench_diff: WARNING current run is LOAD-POISONED "
              f"(loadavg={cur.get('loadavg_preflight')}, "
              f"sibling_jvms={cur.get('sibling_jvms')}); per-query numbers "
              f"reflect ambient machine load, not plans")
    if cur.get("release_skipped"):
        print("bench_diff: WARNING current run was taken with "
              "SPARK_GRAFT_SKIP_RELEASE=1 (flattered reuse regime) - "
              "diagnostic only, do not publish or baseline")
    cur_degraded = machine_degraded(cur)
    if cur_degraded:
        healthy, factor = canary_band()
        print(f"bench_diff: MACHINE DEGRADED — cal_pre "
              f"{cur.get('cal_pre')} breaches {factor}x the healthy "
              f"anchor {healthy} (CANARY.json). Cross-round per-query "
              f"conclusions REFUSED: these numbers measure the machine, "
              f"not the plans. Re-run on a healthy machine; failed "
              f"queries are still gated below.")
    if cur.get("warmup_failures"):
        print(f"bench_diff: WARNING warmup failures (query failed in the "
              f"untimed warmup pass): {', '.join(cur['warmup_failures'])}")
    name, prev = latest_baseline()
    if prev is None:
        print("bench_diff: no prior BENCH_r*.json with a parseable line; "
              "nothing to compare")
        return
    waived = waivers()
    cq, pq = cur["queries"], prev["queries"]
    # Machine-speed normalization: both runs stamp cal_pre/cal_post — the
    # wall time of a fixed deterministic CPU workload. When the current
    # machine state is genuinely slower (same binary, same plan, idle
    # loadavg — measured 2x run-to-run this round), every query inflates
    # by roughly the calibration ratio; dividing it out separates plan
    # changes from machine drift. Clamped to [1, 2.5]: normalization may
    # only FORGIVE apparent regressions on a slower machine, never
    # manufacture regressions on a faster one, and a >2.5x canary delta
    # means something is wrong enough that numbers shouldn't be trusted
    # in either direction.
    def cal(d):
        vals = [d.get("cal_pre"), d.get("cal_post")]
        vals = [v for v in vals if isinstance(v, (int, float)) and v > 0]
        return sum(vals) / len(vals) if vals else None
    cal_cur, cal_prev = cal(cur), cal(prev)
    cal_ratio = 1.0
    if cal_cur and cal_prev:
        cal_ratio = min(max(cal_cur / cal_prev, 1.0), 2.5)
        if cal_ratio > 1.1:
            print(f"bench_diff: machine canary {cal_prev:.2f}s -> "
                  f"{cal_cur:.2f}s; normalizing per-query gate by "
                  f"{cal_ratio:.2f}x (slower machine state, not plans)")
    # A query that FAILS in the current run (Bench reports -1 and lists it
    # in `failed`) is the worst regression of all — never let it slip out
    # of the comparison silently. The bench-waiver escape hatch applies
    # here too (a known-broken query must still be waivable in writing).
    broken = sorted(set(cur.get("failed") or []) |
                    {q for q, v in cq.items() if v is not None and v < 0})
    for q in broken:
        tag = "WAIVED-FAILED" if q in waived else "FAILED"
        print(f"  {tag} {q}: query failed in current run")
    hard_broken = [q for q in broken if q not in waived]
    if hard_broken:
        sys.exit(f"bench_diff: queries FAILED in current run with no "
                 f"BASELINE.md bench-waiver line: {', '.join(hard_broken)}")
    shared = [q for q in cq if q in pq and cq[q] > 0 and pq[q] > 0]
    if cur_degraded:
        # Failed-query gate above still applies; everything per-query
        # timing-wise is refused — no regression OR improvement verdicts
        # from a machine the canary would not certify.
        print(f"bench_diff: REFUSED per-query comparison of {len(shared)} "
              f"shared queries (machine_degraded artifact)")
        return
    regressions, improved = [], []
    for q in sorted(shared):
        ratio = cq[q] / pq[q] / cal_ratio
        if ratio > THRESHOLD and cq[q] - pq[q] * cal_ratio > ABS_GUARD:
            regressions.append((q, pq[q], cq[q], ratio))
        elif ratio < 1 / THRESHOLD:
            improved.append((q, pq[q], cq[q], ratio))
    new = sorted(set(cq) - set(pq))
    gone = sorted(set(pq) - set(cq))
    tot_prev = sum(pq[q] for q in shared)
    tot_cur = sum(cq[q] for q in shared)

    print(f"bench_diff vs {name}: {len(shared)} shared queries, "
          f"total {tot_prev:.2f}s -> {tot_cur:.2f}s")
    for q, a, b, r in improved:
        print(f"  improved  {q}: {a:.2f}s -> {b:.2f}s ({r:.2f}x)")
    if new:
        print(f"  new: {', '.join(new)}")
    if gone:
        print(f"  removed: {', '.join(gone)}")
    hard = [r for r in regressions if r[0] not in waived]
    for q, a, b, r in regressions:
        tag = "WAIVED" if q in waived else "REGRESSION"
        print(f"  {tag} {q}: {a:.2f}s -> {b:.2f}s ({r:.2f}x)")
    if hard:
        sys.exit(f"bench_diff: {len(hard)} per-query regression(s) over "
                 f"{THRESHOLD}x with no BASELINE.md bench-waiver line")
    print("bench_diff: OK")


if __name__ == "__main__":
    main()
