"""Summarize the spans of traced runs.

    python3 perfbench/summarize.py [.perfbench_work/spans/*.json]

For each span file (one traced run), prints per layer: self time (the
part of its spans' time not covered by child spans), the CPU and
waiting parts of that self time (waiting = self wall time minus thread
CPU time: the GIL, py4j round trips to the JVM, Spark jobs, storage),
and the span count, each per traced operation.  Then checks, for every
traced operation, that the self times of its spans add up to the
operation's latency on the client thread — the critical path — and
exits non-zero if any operation is off by more than 1%.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import WORK  # noqa: E402
from spans import self_times  # noqa: E402


def summarize(path: str) -> bool:
    with open(path) as f:
        doc = json.load(f)
    spans = [tuple(s) for s in doc["spans"]]
    meta = doc["meta"]
    selfs = self_times(spans)
    roots = {s[2]: s for s in spans if s[1] is None and s[3] == "op"}
    n = max(1, len(roots))
    wall: dict[str, float] = defaultdict(float)
    cpu: dict[str, float] = defaultdict(float)
    count: dict[str, int] = defaultdict(int)
    per_op: dict[str, float] = defaultdict(float)
    for s in spans:
        w, c = selfs[s[0]]
        wall[s[3]] += w
        cpu[s[3]] += c
        count[s[3]] += 1
        if s[2] in roots and s[8] == roots[s[2]][8]:
            per_op[s[2]] += w
    print(f"{os.path.basename(path)}: workload {meta['workload']}, seed {meta['seed']}, "
          f"{len(roots)} traced ops, {len(spans)} spans")
    print(f"  {'layer':10s} {'self ms/op':>11s} {'cpu ms/op':>10s} {'wait ms/op':>11s} "
          f"{'spans/op':>9s}")
    for layer in sorted(wall, key=lambda k: -wall[k]):
        print(f"  {layer:10s} {wall[layer] * 1000 / n:11.2f} {cpu[layer] * 1000 / n:10.2f} "
              f"{(wall[layer] - cpu[layer]) * 1000 / n:11.2f} {count[layer] / n:9.2f}")
    bad = []
    for op, root in roots.items():
        latency = root[6] - root[5]
        if latency > 0 and abs(per_op[op] - latency) > 0.01 * latency:
            bad.append((op, per_op[op], latency))
    if bad:
        print(f"  critical path: {len(bad)} ops whose self times do not add up, e.g. "
              f"{bad[0][0]}: {bad[0][1] * 1000:.2f} ms of {bad[0][2] * 1000:.2f} ms")
    else:
        print(f"  critical path: self times add up to the latency of all {len(roots)} ops")
    return not bad


def main(argv: list[str]) -> int:
    paths = argv or sorted(glob.glob(os.path.join(WORK, "spans", "*.json")))
    if not paths:
        print("no span files; run perfbench/run.py with --trace 1 first", file=sys.stderr)
        return 2
    ok = [summarize(p) for p in paths]
    return 0 if all(ok) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
