#!/usr/bin/env bash
# Paired A/B of perfbench workloads: a git ref against the working tree.
#
#   tools/ab.sh <git-ref> <workload[,workload...]> <seed...>
#   tools/ab.sh HEAD~1 corpus_prep 202 203 204 205 206
#
# Exports the ref's committed files into a fresh temp dir (git archive:
# the committed tree in a new directory, which is also how a commit's
# benchmark is judged, and which leaves the repository's .git untouched).
# That dir's absolute path has the same length as the working tree's:
# lake_cycle's manifests store absolute file paths, so a longer path
# alone moves its write_amp by about 0.001. Where no such path can be
# made under $TMPDIR, it warns and uses a longer one.
# Then, per workload and seed, runs
#   python3 perfbench/run.py --workload W --seed S --seconds 10 --trace 0
# once in the ref tree and once in the working tree, swapping which side
# goes first on every seed so that drift on the machine hits both sides
# alike. Each tree builds itself on first use. Prints one line per run,
# then per workload and end-to-end metric: the parent median and
# interquartile range, the change median, change/parent, and how many
# pairs the change won (direction from BENCHMARK.json). Exits 1 when any
# run, on either side, failed or was incorrect (the summary header names
# them), else 0. Removes the temp dir on exit. Never writes under
# perfbench/ beyond what run.py itself writes (its build, work and
# results directories).
set -euo pipefail
if [ $# -lt 3 ]; then
  echo "usage: $0 <git-ref> <workload[,workload...]> <seed...>" >&2
  exit 2
fi
ref=$1; workloads=$2; shift 2
root=$(cd "$(dirname "$0")/.." && pwd -P)
tmp=$(mktemp -d "${TMPDIR:-/tmp}/graft-ab.XXXXXX")
base=$(cd "${TMPDIR:-/tmp}" && pwd -P)
pad=$(( ${#root} - ${#base} - 1 ))
if [ "$pad" -ge 3 ] && tree=$(mktemp -d "$base/$(printf 'X%.0s' $(seq "$pad"))"); then
  :
else
  tree="$tmp/tree"
  mkdir "$tree"
  echo "warning: parent tree path ($tree) is longer than $root;" \
    "a lake_cycle write_amp move of ±0.001 is path noise" >&2
fi
trap 'rm -rf "$tmp" "$tree"' EXIT
git -C "$root" archive --format=tar "$ref" | tar -x -C "$tree"
echo "parent = $ref ($(git -C "$root" rev-parse --short "$ref")), change = working tree" >&2

runs="$tmp/runs.jsonl"
: > "$runs"
one() { # side dir workload seed
  local out line
  if out=$(cd "$2" && python3 perfbench/run.py --workload "$3" --seed "$4" \
      --seconds 10 --trace 0 2>"$tmp/last.err"); then
    line=$(printf '%s\n' "$out" | tail -n 1)
  else
    line='{"correct": false, "failed": -1, "metrics": {}}'
    tail -n 5 "$tmp/last.err" >&2
  fi
  printf '{"side": "%s", "workload": "%s", "seed": %s, "run": %s}\n' \
    "$1" "$3" "$4" "$line" | tee -a "$runs"
}
i=0
for w in ${workloads//,/ }; do
  for s in "$@"; do
    if [ $((i % 2)) -eq 0 ]; then
      one parent "$tree" "$w" "$s"; one change "$root" "$w" "$s"
    else
      one change "$root" "$w" "$s"; one parent "$tree" "$w" "$s"
    fi
    i=$((i + 1))
  done
done

python3 - "$runs" "$root/BENCHMARK.json" <<'EOF'
import json, statistics, sys
runs = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
better = {m["name"]: m["better"] for m in json.load(open(sys.argv[2]))["end_to_end"]}
failed = False

def value(v):
    return v.get("value") if isinstance(v, dict) else v

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]

for w in dict.fromkeys(r["workload"] for r in runs):
    rs = [r for r in runs if r["workload"] == w]
    bad = [f'{r["side"]}/{r["seed"]}' for r in rs if not r["run"].get("correct")]
    failed = failed or bool(bad)
    print(f"== {w}: {len(rs) // 2} pairs" + (f", failed runs: {' '.join(bad)}" if bad else ""))
    print(f'{"metric":<12} {"parent":>10} {"parent IQR":>21} {"change":>10} {"ratio":>6} {"wins":>5}')
    for m, direction in better.items():
        pairs = {}
        for r in rs:
            v = value(r["run"].get("metrics", {}).get(m))
            if v is not None and r["run"].get("correct"):
                pairs.setdefault(r["seed"], {})[r["side"]] = float(v)
        pairs = [p for p in pairs.values() if len(p) == 2]
        if not pairs:
            continue
        par = [p["parent"] for p in pairs]
        chg = [p["change"] for p in pairs]
        mp, mc = statistics.median(par), statistics.median(chg)
        lo, hi = quartiles(par)
        wins = sum((p["change"] > p["parent"]) if direction == "higher"
                   else (p["change"] < p["parent"]) for p in pairs)
        ratio = f"{mc / mp:.3f}" if mp else "-"
        print(f"{m:<12} {mp:>10.4g} {f'{lo:.4g}..{hi:.4g}':>21} {mc:>10.4g} {ratio:>6}"
              f" {f'{wins}/{len(pairs)}':>5}")
sys.exit(1 if failed else 0)
EOF
