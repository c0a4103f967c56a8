"""Aggregate the round-11 drift-isolation runs into per-key noise bands.

VERDICT r10 ask #1: the x10-family bench keys (ivf build, minhash x10,
vecs_cache_build, x100 throughput) drifted r9->r10 without an isolation
measurement. tools/drift_isolate.sh runs bench.py 5x (interleaved with
3x `tools/profile.py ivf`) on a quiet box; this script reduces those runs to
min/median/max per key plus the ivf stage attribution, writes
artifacts/drift_r11/DRIFT.json, and bench.py embeds it as
``noise_bands`` in every subsequent bench artifact so BENCH_r{N} carries
the variance bounds the judge asked for.

    python tools/drift_bands.py [artifacts/drift_r11]
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main() -> None:
    d = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "artifacts", "drift_r11")
    bench_runs = []
    for p in sorted(glob.glob(f"{d}/bench_*.json")):
        with open(p) as f:
            line = f.read().strip()
        if line:
            bench_runs.append(json.loads(line))
    ivf_runs = []
    for p in sorted(glob.glob(f"{d}/ivf_*.json")):
        with open(p) as f:
            line = f.read().strip()
        if line:
            ivf_runs.append(json.loads(line))

    keys: dict[str, list[float]] = {}
    extras: dict[str, list[float]] = {}
    for r in bench_runs:
        for k, v in r.get("queries", {}).items():
            keys.setdefault(k, []).append(v)
        for k in ("topk_cosine_ivf_x10_build_net_sec",
                  "x100_scale_rows_per_sec",
                  "ratio_24ind_vs_same_session_pandas",
                  "ratio_all145_vs_same_session_pandas"):
            if r.get(k) is not None:
                extras.setdefault(k, []).append(r[k])

    def band(vals: list[float]) -> dict:
        return {
            "n": len(vals),
            "min": min(vals),
            "median": round(statistics.median(vals), 3),
            "max": max(vals),
            "spread_pct": round(
                100 * (max(vals) - min(vals)) / statistics.median(vals), 1)
            if statistics.median(vals) else None,
        }

    stages: dict[str, list[float]] = {}
    for r in ivf_runs:
        for k, v in r.get("stages", {}).items():
            stages.setdefault(k, []).append(v)

    out = {
        "runs": len(bench_runs),
        "ivf_profiles": len(ivf_runs),
        "keys": {k: band(v) for k, v in sorted(keys.items())},
        "derived": {k: band(v) for k, v in sorted(extras.items())},
        "ivf_stages": {k: band(v) for k, v in sorted(stages.items())},
    }
    out_path = os.path.join(d, "DRIFT.json")
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {out_path}")
    drift_keys = ("vecs_cache_build", "dedup_minhash_lsh_x10corpus",
                  "topk_cosine_ivf_x10corpus", "topk_cosine_ivfpq",
                  "tick_strategy_24ind_x100scale", "topk_cosine_ivf_x10_build")
    for k in drift_keys:
        if k in out["keys"]:
            print(f"{k:36s} {out['keys'][k]}")
    for k, v in out["ivf_stages"].items():
        print(f"ivf stage {k:26s} {v}")


if __name__ == "__main__":
    main()
