#!/bin/bash
# Interleaved A/B of one perfbench workload: the working tree against a
# parent revision.
#
#   tools/ab_bench.sh <parent-rev> <workload> <pairs> [first-seed]
#
# Run from the repository root. The parent's committed tree is exported into
# wt-<rev>/ (gitignored) and built there by its own perfbench/run.py. Pair i
# runs both sides untraced on seed first-seed+i (default first seed 1000),
# the parent first in even pairs and the change first in odd ones. Each
# result line is kept under .bench_build/ab/; at the end the script prints,
# for every end-to-end metric of BENCHMARK.json, each side's median and
# quartiles and the fraction of pairs the change won (ties count for
# neither side).
set -euo pipefail
if [ $# -lt 3 ]; then
  echo "usage: $0 <parent-rev> <workload> <pairs> [first-seed]" >&2
  exit 2
fi
REV=$(git rev-parse --short "$1")
WORKLOAD=$2
PAIRS=$3
SEED0=${4:-1000}
ROOT=$(pwd)
PARENT="$ROOT/wt-$REV"
OUT="$ROOT/.bench_build/ab/$REV-$WORKLOAD"

if [ ! -d "$PARENT" ]; then
  mkdir -p "$PARENT"
  git archive "$REV" | tar -x -C "$PARENT"
fi
mkdir -p "$OUT"

run_side() { # side dir seed
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" \
    --seconds 15 --trace 0 | tail -n 1) || true
  echo "$line" > "$OUT/$1-$3.json"
  echo "pair seed $3 $1: $line"
}

for ((i = 0; i < PAIRS; i++)); do
  seed=$((SEED0 + i))
  if ((i % 2 == 0)); then
    run_side parent "$PARENT" "$seed"; run_side change "$ROOT" "$seed"
  else
    run_side change "$ROOT" "$seed"; run_side parent "$PARENT" "$seed"
  fi
done

python3 - "$OUT" "$SEED0" "$PAIRS" <<'EOF'
import json, statistics, sys
out, seed0, pairs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
bench = json.load(open("BENCHMARK.json"))

def load(side, seed):
    try:
        return json.load(open(f"{out}/{side}-{seed}.json"))
    except (OSError, ValueError):
        return None

runs = [(load("parent", s), load("change", s)) for s in range(seed0, seed0 + pairs)]
ok = [(p, c) for p, c in runs if p and c and p.get("correct") and c.get("correct")]
print(f"{len(ok)} of {pairs} pairs complete and correct")
for side, k in (("parent", 0), ("change", 1)):
    print(f"  {side} failed: {[r[k].get('failed') for r in ok]}")

def quartiles(v):
    q = statistics.quantiles(v, n=4, method="inclusive") if len(v) > 1 else v * 3
    return q[0], statistics.median(v), q[2]

for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    pv = [p["metrics"][name]["value"] for p, _ in ok]
    cv = [c["metrics"][name]["value"] for _, c in ok]
    if not pv:
        continue
    wins = sum((c < p) if lower else (c > p) for p, c in zip(pv, cv))
    (p1, pm, p3), (c1, cm, c3) = quartiles(pv), quartiles(cv)
    change = (cm - pm) / pm if pm else float("nan")
    print(f"{name:24s} parent {pm:.4g} [{p1:.4g}, {p3:.4g}]  change {cm:.4g} [{c1:.4g}, {c3:.4g}]"
          f"  median {change:+.1%}  change wins {wins}/{len(ok)}  parent IQR {p3 - p1:.4g}")
EOF
