"""Compare two traced runs query by query, layer by layer.

Usage, from the repository root:

    python3 perfbench/diff.py A.json B.json

``A`` and ``B`` are trace files that ``run.py --trace 1`` writes to
``perfbench/.work/out/``. For each query the per-pass layer metrics are
reduced to their median over the traced passes; queries are ranked by
how far their wall time moved, and each row names the layer metrics that
moved most. A query whose wall time moved by more than ``THRESHOLD``
while its work did not (executor CPU, Python-worker run time, driver-side
build time and every byte count stayed within ``THRESHOLD``) is flagged
``noise``: the time went to waiting, not to the program.
"""

from __future__ import annotations

import argparse
import json
import sys
from collections import defaultdict

from statistics import median

WORK_METRICS = (
    "exec.cpu_s",
    "py.run_s",
    "plans.build_driver_s",
    "exec.shuffle_read_mb",
    "exec.shuffle_write_mb",
    "exec.input_mb",
    "exec.output_mb",
    "exec.spill_mb",
    "py.sent_mb",
    "py.returned_mb",
    "sources.write.mb",
)
# A relative change above this is a move.
THRESHOLD = 0.1
# Below these a change is measurement grain, not work: 10 ms, 0.01 MiB.
FLOOR = {"s": 0.01, "mb": 0.01}


def load(path: str) -> dict[str, dict[str, float]]:
    """{query: {metric: median over traced passes}}."""
    with open(path) as f:
        doc = json.load(f)
    rows: dict[str, list[dict]] = defaultdict(list)
    for r in doc["queries"]:
        rows[r["query"]].append(r)
    out = {}
    for q, rs in rows.items():
        keys = {k for r in rs for k in r if k not in ("query", "pass")}
        out[q] = {k: median([r.get(k, 0.0) for r in rs]) for k in keys}
    return out


def _moved(a: float, b: float, metric: str) -> bool:
    floor = FLOOR["mb"] if metric.endswith("_mb") or metric.endswith(".mb") else FLOOR["s"]
    if abs(b - a) <= floor:
        return False
    return abs(b - a) > THRESHOLD * max(abs(a), floor)


def compare(a: dict, b: dict) -> list[dict]:
    """One row per query present in both runs, largest wall-time move first."""
    rows = []
    for q in sorted(set(a) & set(b)):
        qa, qb = a[q], b[q]
        wall_a, wall_b = qa.get("wall_s", 0.0), qb.get("wall_s", 0.0)
        deltas = {k: qb.get(k, 0.0) - qa.get(k, 0.0) for k in set(qa) | set(qb) if k != "wall_s"}
        layers = sorted(deltas.items(), key=lambda kv: -abs(kv[1]))
        wall_moved = _moved(wall_a, wall_b, "wall_s")
        work_moved = [k for k in WORK_METRICS if _moved(qa.get(k, 0.0), qb.get(k, 0.0), k)]
        rows.append(
            {
                "query": q,
                "wall_a": wall_a,
                "wall_b": wall_b,
                "ratio": wall_b / wall_a if wall_a else float("inf"),
                "verdict": "noise" if wall_moved and not work_moved else ("moved" if wall_moved else "same"),
                "work_moved": work_moved,
                "top_layers": [{"metric": k, "delta": v} for k, v in layers[:4] if v],
            }
        )
    rows.sort(key=lambda r: -abs(r["wall_b"] - r["wall_a"]))
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Rank per-query layer changes between two traced runs.")
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args(argv)
    rows = compare(load(args.a), load(args.b))
    for r in rows:
        top = ", ".join(f"{t['metric']} {t['delta']:+.3f}" for t in r["top_layers"])
        print(f"{r['query']:<24} {r['wall_a']:8.3f}s -> {r['wall_b']:8.3f}s  x{r['ratio']:.2f}  {r['verdict']:<5}  {top}")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ".")
    sys.exit(main())
