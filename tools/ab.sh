#!/bin/bash
# Interleaved A/B of the benchmark (perfbench/run.py): a base commit against
# the current checkout, one fresh seed per pair, the side that runs first
# alternating from pair to pair so a drift in host speed hits both sides.
#
#   tools/ab.sh [--base REF] [--pairs N] [--seed FIRST] [WORKLOAD...]
#
# --base     commit to compare against (default HEAD, i.e. the parent of
#            uncommitted changes; after committing, pass HEAD~1)
# --pairs    number of pairs per workload (default 10)
# --seed     seed of the first pair; pair i uses FIRST + i - 1 (default 101)
# WORKLOAD   default: every workload in BENCHMARK.json
#
# Each run lasts BENCHMARK.json's run_seconds, as the benchmark sets it.
#
# The base is checked out detached into a temporary `git clone --shared`
# (it borrows this repo's objects and writes nothing to its .git), removed
# at exit; each side builds and generates inputs in its own checkout. Every
# run's result line is kept under .ab_out/<time>/. For each workload and
# end-to-end metric the summary prints the median and quartiles of each
# side, the change in the median, the pair wins of the new side, and
# whether the medians differ by more than the base's interquartile range.
# Exit 1 if any run fails or reports `correct: false`.
set -euo pipefail

base=HEAD pairs=10 seed=101
workloads=()
while [ $# -gt 0 ]; do
  case "$1" in
    --base) base=$2; shift 2 ;;
    --pairs) pairs=$2; shift 2 ;;
    --seed) seed=$2; shift 2 ;;
    -h|--help) sed -n '2,23p' "$0"; exit 0 ;;
    -*) echo "ab.sh: unknown option $1" >&2; exit 2 ;;
    *) workloads+=("$1"); shift ;;
  esac
done

root=$(git rev-parse --show-toplevel)
cd "$root"
{ read -r seconds; read -ra declared; } < <(python3 -c \
  'import json; b = json.load(open("BENCHMARK.json")); print(b["run_seconds"]); print(*(w["name"] for w in b["workloads"]))')
[ ${#workloads[@]} -gt 0 ] || workloads=("${declared[@]}")
rev=$(git rev-parse --verify "$base^{commit}")
out="$root/.ab_out/$(date -u +%Y%m%dT%H%M%SZ)"
mkdir -p "$out"
wt=$(mktemp -d "${TMPDIR:-/tmp}/graft-ab-base.XXXXXX")
trap 'rm -rf "$wt"' EXIT
git clone --quiet --shared --no-checkout "$root" "$wt"
git -C "$wt" checkout --quiet --detach "$rev"
echo "[ab] base $rev in $wt; new = $root (working tree); results in $out" >&2

failed=0
run_side() { # side dir workload seed
  local f="$out/$3-seed$4-$1.json"
  if ! (cd "$2" && python3 perfbench/run.py --workload "$3" --seed "$4" --seconds "$seconds") \
      > "$f.out" 2> "$f.log"; then
    echo "[ab] $1 $3 seed $4: run failed (see $f.log)" >&2
    failed=1
  fi
  tail -n 1 "$f.out" > "$f"
  python3 -c 'import json,sys; sys.exit(0 if json.load(open(sys.argv[1])).get("correct") else 1)' "$f" \
    2>/dev/null || { echo "[ab] $1 $3 seed $4: not correct" >&2; failed=1; }
}

for w in "${workloads[@]}"; do
  for i in $(seq 0 $((pairs - 1))); do
    s=$((seed + i))
    if [ $((i % 2)) -eq 0 ]; then
      run_side base "$wt" "$w" "$s"; run_side new "$root" "$w" "$s"
    else
      run_side new "$root" "$w" "$s"; run_side base "$wt" "$w" "$s"
    fi
    echo "[ab] $w pair $((i + 1))/$pairs (seed $s) done" >&2
  done
done

python3 - "$out" "$root/BENCHMARK.json" "${workloads[@]}" <<'EOF'
import glob, json, os, statistics, sys

out, spec, workloads = sys.argv[1], json.load(open(sys.argv[2])), sys.argv[3:]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def load(path):
    try:
        with open(path) as fh:
            return json.load(fh).get("metrics", {})
    except (OSError, ValueError):
        return {}


for w in workloads:
    seeds = sorted({os.path.basename(p).split("-seed")[1].split("-")[0]
                    for p in glob.glob(f"{out}/{w}-seed*-base.json")}, key=int)
    runs = {s: (load(f"{out}/{w}-seed{s}-base.json"), load(f"{out}/{w}-seed{s}-new.json")) for s in seeds}
    print(f"\n{w}: {len(seeds)} pairs, seeds {', '.join(seeds)}")
    print(f"{'metric':12s} {'base median [q1, q3]':>28s} {'new median [q1, q3]':>28s} {'change':>8s} {'new wins':>9s} {'> base IQR':>10s}")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(b[name]["value"], n[name]["value"]) for b, n in runs.values() if name in b and name in n]
        if not pairs:
            continue
        bq, nq = quartiles([p[0] for p in pairs]), quartiles([p[1] for p in pairs])
        wins = sum((n < b) if lower else (n > b) for b, n in pairs)
        change = (nq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        beyond = abs(nq[1] - bq[1]) > bq[2] - bq[0]
        print(f"{name:12s} {bq[1]:10.4g} [{bq[0]:7.4g}, {bq[2]:7.4g}] {nq[1]:10.4g} [{nq[0]:7.4g}, {nq[2]:7.4g}]"
              f" {change:+8.1%} {wins:>4d}/{len(pairs):<4d} {'yes' if beyond else 'no':>10s}")
EOF
exit $failed
