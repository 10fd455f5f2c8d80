#!/usr/bin/env python3
"""Regenerate tools/bench_baseline.json — the per-query floors that
graft.Bench's floor_ratio and the 2x gate read.

Floor rule: the floor is the HISTORICAL MINIMUM of a query's full-core
bench times, never auto-raised (a floor that tracks recent cost lets a
gradual regression raise its own bar). Sources: the per-round detail
copies tools/bench_detail_r*.json and the stdout-line tails of
BENCH_r{N}.json. Low-core scaling runs (BENCH_r{N}_c8.json) are not
floors, and neither are the reference runs in REFERENCE_ONLY. Floors rise
only via the per-query documented-override path
(tools/bench_baseline_overrides.json: a deliberate semantic change, with
citations), applied LAST. The output must stay byte-identical to the
committed file unless floors are deliberately regenerated.

Run from the repo root: python3 tools/update_bench_baseline.py
"""
import json, glob, re

# Clean-window reference runs committed for adjudication after the floors
# were last regenerated. Absorbing one would lower floors (this one: six
# rows, e.g. q_feature_math 0.559 -> 0.464), which only a deliberate
# regeneration may do.
REFERENCE_ONLY = {'tools/bench_detail_r21_base.json'}

best = {}
# tools/bench_detail_r*.json are complete per-round copies of the bench
# detail file (the BENCH_r*.json 'tail' is a byte-truncated capture of
# the stdout line and loses most of the query dict — r11's kept 65 of 163).
for f in sorted(glob.glob('tools/bench_detail_r*.json')):
    if f in REFERENCE_ONLY:
        continue
    try:
        d = json.load(open(f))
    except Exception:
        continue
    for k, v in (d.get('queries') or {}).items():
        sec = v.get('sec') if isinstance(v, dict) else v
        if isinstance(sec, (int, float)):
            best[k] = min(best.get(k, 1e9), float(sec))
for f in sorted(glob.glob('BENCH_r*.json')):
    if not re.fullmatch(r'BENCH_r\d+\.json', f):
        continue
    try:
        d = json.load(open(f))
    except Exception:
        continue
    tail = d.get('tail') or ''
    m = re.search(r'\{"metric":"total".*\}', tail)
    if not m:
        continue
    try:
        inner = json.loads(m.group(0))
    except Exception:
        continue
    for k, v in (inner.get('queries') or {}).items():
        if isinstance(v, (int, float)):
            best[k] = min(best.get(k, 1e9), float(v))

# Explicit floors for queries whose history predates a deliberate semantic
# change (see tools/bench_baseline_overrides.json): the ONLY path that
# raises a floor above the historical minimum — applied LAST, each entry
# documented with citations in the overrides file.
try:
    overrides = json.load(open('tools/bench_baseline_overrides.json'))
except Exception:
    overrides = {}
n_over = 0
for k, o in overrides.items():
    if k.startswith('_') or not isinstance(o, dict):
        continue
    floor = o.get('floor_sec')
    if isinstance(floor, (int, float)) and k in best:
        if float(floor) > best[k]:
            n_over += 1
        best[k] = max(best[k], float(floor))

out = {k: round(v, 3) for k, v in sorted(best.items())}
json.dump(out, open('tools/bench_baseline.json', 'w'), indent=1)
print(f'{len(out)} queries; sum-of-floors {sum(out.values()):.1f}s; '
      f'{n_over} documented overrides above the minimum')
