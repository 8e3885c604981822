#!/usr/bin/env bash
# Interleaved A/B run of graft's benchmark on two commits.
#
#   tools/ab.sh <commitA> <commitB> <workload> <N>
#
# Exports each commit with `git archive` into $AB_DIR/ab-<sha> (default
# AB_DIR: $TMPDIR or /tmp), builds each export's graftbench once, then runs
# `python3 graftbench/run.py` alternately, N pairs with the side that goes
# first swapping each pair (A B, B A, A B, ...) so drift of the host over
# the session lands on both sides. Every run uses the same seed (AB_SEED,
# default 42) and BENCHMARK.json's run_seconds. Per-run JSON result lines
# are kept in $AB_DIR/ab-<shaA>-<shaB>-<workload>-seed<seed>.jsonl.
#
# For each end-to-end metric of BENCHMARK.json it prints the median of each
# side, the median of the paired ratios B/A (run i of B against run i of
# A), how many pairs B improved, and each side's interquartile range.
# Runs that fail or print no result are counted and left out.
set -euo pipefail

if [ $# -ne 4 ]; then
  echo "usage: $0 <commitA> <commitB> <workload> <N>" >&2
  exit 2
fi
A_REV=$1 B_REV=$2 WORKLOAD=$3 N=$4
REPO=$(cd "$(dirname "$0")/.." && pwd)
AB_DIR=${AB_DIR:-${TMPDIR:-/tmp}}
SEED=${AB_SEED:-42}
SECONDS_ARG=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$REPO/BENCHMARK.json")

A_SHA=$(git -C "$REPO" rev-parse --short=12 "$A_REV^{commit}")
B_SHA=$(git -C "$REPO" rev-parse --short=12 "$B_REV^{commit}")

export_commit() { # <sha> -> directory
  local dir="$AB_DIR/ab-$1"
  if [ ! -f "$dir/BENCHMARK.json" ]; then
    rm -rf "$dir"
    mkdir -p "$dir"
    git -C "$REPO" archive "$1" | tar -x -C "$dir"
  fi
  # build once, with run.py's own up-to-date check, so no run pays for it
  (cd "$dir" && python3 -c 'import sys; sys.path.insert(0, "graftbench"); import run; run.build()') >&2
  echo "$dir"
}

A_DIR=$(export_commit "$A_SHA")
B_DIR=$(export_commit "$B_SHA")
OUT="$AB_DIR/ab-$A_SHA-$B_SHA-$WORKLOAD-seed$SEED.jsonl"
: > "$OUT"

run_side() { # <side> <dir> <i>
  local line
  line=$(cd "$2" && python3 graftbench/run.py --workload "$WORKLOAD" --seed "$SEED" \
    --seconds "$SECONDS_ARG" --trace 0 2>/dev/null | tail -n 1) || true
  case "$line" in
    '{'*) printf '{"side": "%s", "i": %d, "result": %s}\n' "$1" "$3" "$line" >> "$OUT" ;;
    *) printf '{"side": "%s", "i": %d, "result": null}\n' "$1" "$3" >> "$OUT" ;;
  esac
  echo "ab: $1 run $3 done" >&2
}

for i in $(seq 1 "$N"); do
  if [ $((i % 2)) -eq 1 ]; then
    run_side A "$A_DIR" "$i"; run_side B "$B_DIR" "$i"
  else
    run_side B "$B_DIR" "$i"; run_side A "$A_DIR" "$i"
  fi
done

python3 - "$OUT" "$REPO/BENCHMARK.json" "$A_SHA" "$B_SHA" "$WORKLOAD" "$SEED" "$SECONDS_ARG" <<'EOF'
import json, statistics, sys

out, bench, a_sha, b_sha, workload, seed, secs = sys.argv[1:]
spec = json.load(open(bench))["end_to_end"]
rows = [json.loads(l) for l in open(out) if l.strip()]
res = {"A": {}, "B": {}}
failed = {"A": 0, "B": 0}
for r in rows:
    ok = r["result"] is not None and r["result"].get("correct") and r["result"].get("failed", 0) == 0
    if ok:
        res[r["side"]][r["i"]] = r["result"]["metrics"]
    else:
        failed[r["side"]] += 1

def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]

print(f"A/B {workload} seed {seed} --seconds {secs}: A={a_sha} B={b_sha}; "
      f"runs A={len(res['A'])} B={len(res['B'])}, failed A={failed['A']} B={failed['B']}")
print(f"{'metric':<14}{'median A':>11}{'median B':>11}{'B/A med':>9}{'B better':>10}"
      f"{'IQR A':>10}{'IQR B':>10}")
paired = sorted(set(res["A"]) & set(res["B"]))
for m in spec:
    name, lower = m["name"], m["better"] == "lower"
    va = [res["A"][i][name]["value"] for i in sorted(res["A"]) if name in res["A"][i]]
    vb = [res["B"][i][name]["value"] for i in sorted(res["B"]) if name in res["B"][i]]
    if not va or not vb:
        print(f"{name:<14} (missing)")
        continue
    ratios = [res["B"][i][name]["value"] / res["A"][i][name]["value"] for i in paired
              if name in res["A"][i] and name in res["B"][i] and res["A"][i][name]["value"]]
    wins = sum(1 for r in ratios if (r < 1) == lower and r != 1)
    qa, qb = quartiles(va), quartiles(vb)
    print(f"{name:<14}{statistics.median(va):>11.3f}{statistics.median(vb):>11.3f}"
          f"{statistics.median(ratios) if ratios else float('nan'):>9.3f}"
          f"{f'{wins}/{len(ratios)}':>10}{qa[1] - qa[0]:>10.3f}{qb[1] - qb[0]:>10.3f}")
EOF
