#!/usr/bin/env bash
# Interleaved A/B of the crawl benchmark between two git refs.
#
# Usage: tools/ab.sh <refA> <refB> <workload> <seed>...
#
# Checks out refA and refB as detached git worktrees under $AB_DIR
# (default .wt/ab, git-ignored), then for every seed runs
#   python3 crawlbench/run.py --workload <workload> --seed <seed> \
#       --seconds $AB_SECONDS --trace 0
# once in each worktree, alternating which side goes first from one seed to
# the next so run-order effects cancel. Each run appends one JSON line
# (ref, commit, side, seed, position, result) to $AB_OUT (default
# .bench_out/ab.jsonl). At the end it prints, per end-to-end metric, the
# median of A and of B over the seeds, the median of the per-seed B/A
# ratios, and on how many seeds B was better.
#
# Each worktree builds its own binary once (crawlbench/run.py keeps it in
# the worktree's .bench_build/). The worktrees are removed on exit unless
# AB_KEEP=1.
set -euo pipefail
if [ "$#" -lt 4 ]; then
  echo "usage: tools/ab.sh <refA> <refB> <workload> <seed>..." >&2
  exit 2
fi
cd "$(dirname "$0")/.."
ROOT="$PWD"
REF_A="$1"; REF_B="$2"; WORKLOAD="$3"; shift 3
SEEDS=("$@")
AB_DIR="${AB_DIR:-$ROOT/.wt/ab}"
AB_OUT="${AB_OUT:-$ROOT/.bench_out/ab.jsonl}"
AB_SECONDS="${AB_SECONDS:-20}"
mkdir -p "$AB_DIR" "$(dirname "$AB_OUT")"

declare -A DIR=([A]="$AB_DIR/a" [B]="$AB_DIR/b")
declare -A REF=([A]="$REF_A" [B]="$REF_B")
declare -A SHA
cleanup() {
  if [ "${AB_KEEP:-0}" != 1 ]; then
    for side in A B; do
      git worktree remove --force "${DIR[$side]}" 2>/dev/null || true
    done
  fi
}
trap cleanup EXIT
for side in A B; do
  SHA[$side]="$(git rev-parse --verify "${REF[$side]}^{commit}")"
  if [ -d "${DIR[$side]}" ]; then
    git -C "${DIR[$side]}" checkout --quiet --detach "${SHA[$side]}"
  else
    git worktree add --quiet --detach "${DIR[$side]}" "${SHA[$side]}"
  fi
done

run_side() { # side seed position
  local side="$1" seed="$2" pos="$3" line
  echo "[ab] seed $seed: ${REF[$side]} (side $side, position $pos)" >&2
  if line="$(cd "${DIR[$side]}" && python3 crawlbench/run.py --workload "$WORKLOAD" \
        --seed "$seed" --seconds "$AB_SECONDS" --trace 0 | tail -n 1)" &&
      [[ "$line" == "{"* ]]; then
    printf '{"ref":"%s","commit":"%s","side":"%s","workload":"%s","seed":%s,"position":%s,"result":%s}\n' \
      "${REF[$side]}" "${SHA[$side]}" "$side" "$WORKLOAD" "$seed" "$pos" "$line" >> "$AB_OUT"
  else
    echo "[ab] seed $seed: run on side $side failed" >&2
  fi
}

i=0
for seed in "${SEEDS[@]}"; do
  if [ $((i % 2)) -eq 0 ]; then first=A; second=B; else first=B; second=A; fi
  run_side "$first" "$seed" 1
  run_side "$second" "$seed" 2
  i=$((i + 1))
done

python3 - "$AB_OUT" "${SHA[A]}" "${SHA[B]}" "$WORKLOAD" "$ROOT/BENCHMARK.json" "${SEEDS[@]}" <<'EOF'
import json, statistics, sys
out, sha_a, sha_b, workload, bench = sys.argv[1:6]
seeds = {int(s) for s in sys.argv[6:]}
better = {m["name"]: m["better"] for m in json.load(open(bench))["end_to_end"]}
runs = {"A": {}, "B": {}}
for line in open(out):
    r = json.loads(line)
    side = "A" if r["commit"] == sha_a else "B" if r["commit"] == sha_b else None
    if side and r["workload"] == workload and r["seed"] in seeds:
        runs[side][r["seed"]] = r["result"]
paired = sorted(set(runs["A"]) & set(runs["B"]))
correct = all(runs[s][k]["correct"] for s in "AB" for k in paired)
print(f"{workload}: {len(paired)} paired seeds, all correct: {correct}")
print(f"{'metric':<22}{'median A':>12}{'median B':>12}{'B/A':>8}{'B better':>10}")
for name, direction in better.items():
    a = [runs["A"][k]["metrics"][name]["value"] for k in paired]
    b = [runs["B"][k]["metrics"][name]["value"] for k in paired]
    if not paired:
        continue
    ratios = [y / x if x else float("nan") for x, y in zip(a, b)]
    wins = sum((y < x) if direction == "lower" else (y > x) for x, y in zip(a, b))
    print(f"{name:<22}{statistics.median(a):>12.4g}{statistics.median(b):>12.4g}"
          f"{statistics.median(ratios):>8.3f}{wins:>7}/{len(paired)}")
EOF
