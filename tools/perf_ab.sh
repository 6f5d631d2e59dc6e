#!/bin/bash
# A/B of the pipeline benchmark: a parent revision against the working tree
# (tracked and untracked, non-ignored files, uncommitted edits included).
#   tools/perf_ab.sh <parent-rev> <workload|all> <first-seed> <pairs>
# `all` runs every workload named in BENCHMARK.json, each with the same
# seeds. Both sides are `git archive`d into one fresh directory under
# $TMPDIR (default /tmp). Pair i runs `perfbench/run.py --workload
# <workload> --seed <first-seed + i> --seconds 15 --trace 0` once on each
# side for each workload, parent first on even i and change first on odd
# i, so drift of the host over the session falls on both sides alike.
# Prints, per workload, each pair's end-to-end metrics (and, where the run's
# `params` line has it, `days_replayed`: a faster side replays more days in
# the same 15 s, which moves `retained_heap_mb`), then per metric the median
# and q1-q3 of each side, the change of the medians and the pairs the
# change won. A run without a
# result line stops the script; a run whose checks failed is kept and
# marked. The directory is deleted on exit.
set -euo pipefail
if [ $# -ne 4 ]; then
  echo "usage: tools/perf_ab.sh <parent-rev> <workload|all> <first-seed> <pairs>" >&2
  exit 2
fi
PARENT=$1 WORKLOAD=$2 SEED0=$3 PAIRS=$4
ROOT=$(git rev-parse --show-toplevel)
if [ "$WORKLOAD" = all ]; then
  mapfile -t WORKLOADS < <(python3 -c 'import json, sys
print("\n".join(w["name"] for w in json.load(open(sys.argv[1]))["workloads"]))' \
    "$ROOT/BENCHMARK.json")
else
  WORKLOADS=("$WORKLOAD")
fi
DIR=$(mktemp -d "${TMPDIR:-/tmp}/perf_ab.XXXXXX")
trap 'rm -rf "$DIR"' EXIT

mkdir "$DIR/parent" "$DIR/change"
for W in "${WORKLOADS[@]}"; do mkdir -p "$DIR/results/$W"; done
git -C "$ROOT" archive "$PARENT" | tar -x -C "$DIR/parent"
# the working tree as a tree object, staged through a throwaway index so
# the repository's own index is left alone
cp "$(git -C "$ROOT" rev-parse --path-format=absolute --git-path index)" "$DIR/index"
TREE=$(cd "$ROOT" && GIT_INDEX_FILE="$DIR/index" git add -A . &&
       GIT_INDEX_FILE="$DIR/index" git write-tree)
git -C "$ROOT" archive "$TREE" | tar -x -C "$DIR/change"
echo "parent $(git -C "$ROOT" rev-parse --short "$PARENT"), change tree ${TREE:0:12}, in $DIR"

run_side() { # <side> <workload> <seed>
  local out="$DIR/results/$2/$1-$3.log"
  (cd "$DIR/$1" && python3 perfbench/run.py --workload "$2" --seed "$3" \
     --seconds 15 --trace 0) > "$out" 2>&1 || true
  if ! tail -n 1 "$out" | grep -q '^{"correct"'; then
    tail -n 40 "$out" >&2
    echo "perf_ab: $1 $2 seed $3 printed no result line" >&2
    exit 1
  fi
  tail -n 1 "$out" > "$DIR/results/$2/$1-$3.json"
  sed -n 's/^workload .* params //p' "$out" | head -n 1 > "$DIR/results/$2/$1-$3.params.json"
}

for ((i = 0; i < PAIRS; i++)); do
  SEED=$((SEED0 + i))
  if ((i % 2 == 0)); then ORDER="parent change"; else ORDER="change parent"; fi
  for W in "${WORKLOADS[@]}"; do
    for SIDE in $ORDER; do run_side "$SIDE" "$W" "$SEED"; done
  done
  echo "pair $((i + 1))/$PAIRS seed $SEED done (${ORDER%% *} first)"
done

python3 - "$ROOT/BENCHMARK.json" "$DIR/results" "$SEED0" "$PAIRS" "${WORKLOADS[@]}" <<'PY'
import json, statistics, sys
spec, res, seed0, pairs = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
metrics = json.load(open(spec))["end_to_end"]
names = [m["name"] for m in metrics]
seeds = range(seed0, seed0 + pairs)
def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3
for workload in sys.argv[5:]:
    runs = {(side, s): json.load(open(f"{res}/{workload}/{side}-{s}.json"))
            for side in ("parent", "change") for s in seeds}
    def params(side, s):
        text = open(f"{res}/{workload}/{side}-{s}.params.json").read().strip()
        return json.loads(text) if text else {}
    days = {(side, s): params(side, s).get("days_replayed", "?")
            for side in ("parent", "change") for s in seeds}
    show_days = any(d != "?" for d in days.values())
    def val(side, s, m):
        return runs[(side, s)]["metrics"][m]["value"]
    print(f"== {workload}")
    print("seed  " + "  ".join(f"{n} (parent/change)" for n in names)
          + ("  days_replayed (parent/change)" if show_days else ""))
    for s in seeds:
        marks = "".join(f" [{side} incorrect, {runs[(side, s)]['failed']} failed ops]"
                        for side in ("parent", "change") if not runs[(side, s)]["correct"])
        print(f"{s:<5} " + "  ".join(f"{val('parent', s, n):.6g}/{val('change', s, n):.6g}"
                                     for n in names)
              + (f"  {days[('parent', s)]}/{days[('change', s)]}" if show_days else "")
              + marks)
    print(f"{'metric':<22} {'parent median (q1-q3)':>32} {'change median (q1-q3)':>32} "
          f"{'delta':>8} {'change better':>14}")
    for m in metrics:
        n, lower = m["name"], m["better"] == "lower"
        p = [val("parent", s, n) for s in seeds]
        c = [val("change", s, n) for s in seeds]
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quart(p), quart(c)
        wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
        delta = (cmed - pmed) / pmed * 100 if pmed else float("nan")
        print(f"{n:<22} {pmed:>12.6g} ({pq1:.6g}-{pq3:.6g}) {cmed:>12.6g} ({cq1:.6g}-{cq3:.6g}) "
              f"{delta:>+7.1f}% {wins:>8}/{pairs}  (bound {m['bound']:.0%}, better {m['better']})")
PY
