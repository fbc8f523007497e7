#!/bin/bash
# Per-face A/B timing: tools/ab_bench.sh <comma-faces> [reps] [cpus]
# (cpus defaults to this host's core count, nproc).
# Prints the bench JSON line (cold per rep; warm_median over reps 2..N).
set -e
FACES="$1"; REPS="${2:-3}"; CPUS="${3:-$(nproc)}"
OUT=$(mktemp /tmp/ab_bench_XXXX.json)
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_ONLY="$FACES" SPARK_GRAFT_REPS="$REPS" \
SPARK_GRAFT_BENCH_OUT="$OUT" \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep -a '"metric"' || true
echo "--- full artifact: $OUT"
python3 - "$OUT" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
wm = d.get('warm_median', {})
for k in sorted(wm): print(f"  warm_median {k}: {wm[k]}")
EOF
