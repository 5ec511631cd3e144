#!/usr/bin/env bash
# Alternating before/after pairs of cdcbench runs: this checkout's tree
# against <rev>, one pair per seed.
#
#   tools/bench_pairs.sh <rev> <workload> <seed>...
#
# <rev> is exported into a temporary dir with `git archive`, so the
# script writes nothing under .git and a killed run leaves no worktree
# entry behind. Each side builds into its own CARGO_TARGET_DIR, so
# neither reuses the other's classes.
# For each seed both sides run `cdcbench/run.py --trace 0`; which side
# runs first alternates from seed to seed. Every result line is kept in
# the temporary dir (printed at the end). The summary gives, per
# end-to-end metric, each side's median [min–max] and how many pairs
# each side won ("better" as BENCHMARK.json declares it). Both sides
# run for BENCHMARK.json's run_seconds. The script only reads cdcbench/.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ $# -lt 3 ]; then
  echo "usage: $0 <rev> <workload> <seed>..." >&2
  exit 2
fi
rev=$1 workload=$2
shift 2

tmp=$(mktemp -d "${TMPDIR:-/tmp}/bench_pairs.XXXXXX")
mkdir "$tmp/base"
git archive "$rev" | tar -x -C "$tmp/base"
cleanup() { rm -rf "$tmp/base" "$tmp"/build-*; }
trap cleanup EXIT

seconds=$(python3 -c \
  'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')

# run <side> <tree> <seed>: one untraced run; keeps its result line
run() {
  local side=$1 tree=$2 seed=$3
  echo "bench_pairs: seed $seed, $side" >&2
  (cd "$tree" && CARGO_TARGET_DIR="$tmp/build-$side" python3 cdcbench/run.py \
    --workload "$workload" --seed "$seed" --seconds "$seconds" --trace 0) \
    2>"$tmp/$side-$seed.err" | tail -n 1 >"$tmp/$side-$seed.json" ||
    echo "bench_pairs: $side seed $seed failed, see $tmp/$side-$seed.err" >&2
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run base "$tmp/base" "$seed"; run head . "$seed"
  else
    run head . "$seed"; run base "$tmp/base" "$seed"
  fi
  i=$((i + 1))
done

python3 - "$tmp" "$rev" "$workload" "$@" <<'EOF'
import json
import statistics
import sys
from pathlib import Path

tmp, rev, workload, seeds = Path(sys.argv[1]), sys.argv[2], sys.argv[3], sys.argv[4:]
better = {m["name"]: m["better"] for m in json.load(open("BENCHMARK.json"))["end_to_end"]}


def load(side, seed):
    try:
        return json.loads((tmp / f"{side}-{seed}.json").read_text())
    except (OSError, ValueError):
        return None


pairs = [(s, load("base", s), load("head", s)) for s in seeds]
ok = [(s, b, h) for s, b, h in pairs if b and h]
print(f"{workload}: {rev} (base) vs this tree (head), {len(ok)} of {len(pairs)} pairs complete")
for side, idx in (("base", 1), ("head", 2)):
    failed = sum(p[idx]["failed"] for p in ok)
    attempted = sum(p[idx]["attempted"] for p in ok)
    print(f"  {side}: failed {failed} of {attempted}")
print(f"  {'metric':<18} {'base median [min-max]':>30} {'head median [min-max]':>30}  wins base/head")
for name, way in better.items():
    rows = [(p[1]["metrics"].get(name), p[2]["metrics"].get(name)) for p in ok]
    rows = [(b["value"], h["value"]) for b, h in rows if b and h]
    if not rows:
        continue

    def fmt(xs):
        return f"{statistics.median(xs):.4g} [{min(xs):.4g}-{max(xs):.4g}]"

    sign = 1 if way == "lower" else -1
    head_wins = sum(1 for b, h in rows if sign * (h - b) < 0)
    base_wins = sum(1 for b, h in rows if sign * (b - h) < 0)
    print(f"  {name:<18} {fmt([b for b, _ in rows]):>30} {fmt([h for _, h in rows]):>30}"
          f"  {base_wins}/{head_wins}")
print(f"  result lines: {tmp}")
EOF
