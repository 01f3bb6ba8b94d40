#!/usr/bin/env bash
# Interleaved A/B of one ingest-benchmark workload between two trees.
#
# Runs PAIRS pairs of `ingestbench/run.py --workload W --trace 0`, one run
# per side per pair with the same seed, alternating which side goes first
# (even pairs: base first; odd pairs: change first) so ambient drift
# cancels. Then prints every metric's median and quartiles per side and
# how many pairs the named metric won on the change side, in the
# direction BENCHMARK.json gives it.
#
# Usage: scripts/ingest_ab.sh <workload> <metric> <base> <change> [pairs] [first-seed]
#   e.g. scripts/ingest_ab.sh stream_fanout fresh_p50_s HEAD~1 HEAD 10 101
# <base>/<change> is a git ref (checked out as a detached worktree under
# .work/ingest_ab/tree_<side>) or the path of an existing checkout.
# Output: .work/ingest_ab/<side>_<pair>.json (the result line of each run)
# and the report. Nothing under ingestbench/ is edited; each tree builds
# its own engine on its first run. Do not run other benchmarks or
# `sbt test` at the same time: the runs share the machine.
set -euo pipefail
cd "$(dirname "$0")/.."

[ "$#" -ge 4 ] || { sed -n '2,18p' "$0" >&2; exit 1; }
WORKLOAD=$1 METRIC=$2
PAIRS=${5:-10} SEED0=${6:-101}
ROOT=$PWD/.work/ingest_ab
mkdir -p "$ROOT"
rm -f "$ROOT"/base_*.json "$ROOT"/change_*.json

declare -A TREE
for side in base change; do
  if [ "$side" = base ]; then arg=$3; else arg=$4; fi
  if [ -d "$arg" ]; then
    TREE[$side]=$(cd "$arg" && pwd)
    continue
  fi
  # resolve in the main repo: inside an existing worktree HEAD is that
  # worktree's own commit
  sha=$(git rev-parse --verify "$arg^{commit}")
  tree="$ROOT/tree_$side"
  if [ ! -d "$tree" ]; then
    git worktree add --detach "$tree" "$sha"
  else
    git -C "$tree" checkout --detach "$sha"
  fi
  TREE[$side]=$tree
done

run_one() { # $1 = side, $2 = pair, $3 = seed
  echo "=== pair $2 $1 (seed $3) ===" >&2
  local out="$ROOT/$1_$2.json" status=0
  (cd "${TREE[$1]}" && python3 ingestbench/run.py --workload "$WORKLOAD" --seed "$3" \
    --seconds 8 --trace 0) >"$out.log" || status=$?
  tail -n 1 "$out.log" >"$out"
  [ "$status" -eq 0 ] || echo "pair $2 $1: run.py exited $status (see $out.log)" >&2
}

for i in $(seq 0 $((PAIRS - 1))); do
  seed=$((SEED0 + i))
  if [ $((i % 2)) -eq 0 ]; then order="base change"; else order="change base"; fi
  for side in $order; do run_one "$side" "$i" "$seed"; done
done

python3 - "$ROOT" "$PAIRS" "$METRIC" "${TREE[base]}/BENCHMARK.json" <<'EOF'
import json, statistics, sys
root, pairs, metric, bench = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
better = {m["name"]: m["better"] for m in json.load(open(bench))["end_to_end"]}

def load(side, i):
    try:
        return json.loads(open(f"{root}/{side}_{i}.json").read())
    except (OSError, ValueError):
        return None

runs = {s: [load(s, i) for i in range(pairs)] for s in ("base", "change")}

def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

names = sorted({m for rs in runs.values() for r in rs if r for m in r["metrics"]})
print(f"{'metric':<16} {'base p25 / p50 / p75':>30} {'change p25 / p50 / p75':>30}  change/base")
for m in names:
    cells = []
    for s in ("base", "change"):
        xs = [r["metrics"][m]["value"] for r in runs[s] if r and m in r["metrics"]]
        cells.append(quartiles(xs))
    ratio = cells[1][1] / cells[0][1] if cells[0][1] else float("nan")
    fmt = lambda q: f"{q[0]:9.3f} /{q[1]:9.3f} /{q[2]:9.3f}"
    print(f"{m:<16} {fmt(cells[0]):>30} {fmt(cells[1]):>30}  {ratio:.3f}")

for s in ("base", "change"):
    ok = [r for r in runs[s] if r]
    print(f"{s}: {len(ok)}/{pairs} runs reported, failed/attempted "
          f"{sum(r['failed'] for r in ok)}/{sum(r['attempted'] for r in ok)}")

sign = 1 if better.get(metric, "lower") == "lower" else -1
won = total = 0
for b, c in zip(runs["base"], runs["change"]):
    if b and c and metric in b["metrics"] and metric in c["metrics"]:
        total += 1
        won += sign * (b["metrics"][metric]["value"] - c["metrics"][metric]["value"]) > 0
print(f"{metric} ({better.get(metric, 'lower')} is better): change won {won} of {total} pairs")
qb = quartiles([r["metrics"][metric]["value"] for r in runs["base"] if r and metric in r["metrics"]])
qc = quartiles([r["metrics"][metric]["value"] for r in runs["change"] if r and metric in r["metrics"]])
print(f"{metric}: median gain {sign * (qb[1] - qc[1]):.3f} vs base IQR {qb[2] - qb[0]:.3f}")
EOF
