#!/bin/bash
# Drift isolation: 5 full bench runs + 3 ivf-stage profiles,
# interleaved, on an otherwise-quiet box. Usage:
#     tools/drift_isolate.sh [artifacts/drift_r14]
# Outputs land in $OUT/{bench_N.json,ivf_N.json}; reduce with
#     python tools/drift_bands.py $OUT
set -u
cd /root/repo
OUT=${1:-artifacts/drift_r11}
# bench.py's default input, which tools/profile.py needs spelled out
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-$(dirname "$PWD")/testdata/sf0.1}"
mkdir -p "$OUT"
for i in 1 2 3 4 5; do
  echo "=== bench run $i $(date +%T) ==="
  python bench.py > "$OUT/bench_$i.out" 2> "$OUT/bench_$i.err"
  grep -h '"metric"' "$OUT/bench_$i.out" | tail -1 > "$OUT/bench_$i.json"
  if [ $i -le 3 ]; then
    echo "=== ivf profile $i $(date +%T) ==="
    python tools/profile.py ivf > "$OUT/ivf_$i.out" 2> "$OUT/ivf_$i.err"
    grep -h 'ivf_x10_build_profile' "$OUT/ivf_$i.out" | tail -1 > "$OUT/ivf_$i.json"
  fi
done
echo DONE
