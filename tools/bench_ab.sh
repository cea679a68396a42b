#!/usr/bin/env bash
# Same-box A/B bench crosscheck (VERDICT r15 #3, now a standing mode).
#
# Round 15 proved cross-day bench totals on this box are confounded: the
# UNMODIFIED r14 commit re-run a day later scored 525.1 s vs its committed
# 356.7 s, and identical code swung 25% between runs at equal launch load.
# So any cross-round perf claim must come from an A/B run on the same box
# in the same hour — this script cans that: it checks out a previous
# round's commit into a throwaway shared clone, runs its Bench against the
# same SF dir with the same env, and saves its one-line full artifact as
# the crosscheck file, then (optionally) prints the graft.cli.BenchDiff
# report against a current artifact.
#
# Usage: tools/bench_ab.sh <old-ref> <out-json> [sfDir] [current-full.json]
#
# Run it back-to-back with the round's own clean bench (old first or new
# first — same hour either way), and cite the printed ratio, never raw
# totals, in ROUND{N}.md.
set -euo pipefail

REF=${1:?usage: bench_ab.sh <old-ref> <out-json> [sfDir] [current-full.json]}
OUT=${2:?usage: bench_ab.sh <old-ref> <out-json> [sfDir] [current-full.json]}
SF=${3:-/root/testdata/sf0.1}
CUR=${4:-}

ROOT=$(cd "$(dirname "$0")/.." && pwd)
SHORT=$(git -C "$ROOT" rev-parse --short "$REF")
WORK=/tmp/graft_ab_${SHORT}

if [ ! -d "$WORK" ]; then
  git clone -q --shared "$ROOT" "$WORK"
fi
git -C "$WORK" checkout -q --detach "$SHORT"

echo "[bench_ab] benching $SHORT in $WORK against $SF ..."
(
  cd "$WORK"
  SPARK_GRAFT_SF_DIR="$SF" sbt -batch 'runMain graft.Bench' \
    > "$WORK/bench_ab_sbt.out" 2>&1
)
head -1 "$WORK/bench_full.json" > "$OUT"
echo "[bench_ab] crosscheck artifact: $OUT"
python3 - "$OUT" <<'EOF'
import json, sys
d = json.loads(open(sys.argv[1]).readline())
print(f"[bench_ab] old-code total {d['value']:.1f} s / {d['n_queries']} queries, "
      f"load start {d['load']['start']}, gc {d['jvm']['gc_sec']} s")
EOF

if [ -n "$CUR" ]; then
  (cd "$ROOT" && sbt -batch "runMain graft.cli.BenchDiff $(realpath "$OUT") $(realpath "$CUR")")
fi
