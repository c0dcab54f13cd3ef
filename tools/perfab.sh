#!/usr/bin/env bash
# Interleaved A/B of one perfbench workload: a git ref against the working
# tree. The ref's files are exported (git archive) into a temporary
# directory outside the repo (under $TMPDIR) and built there by
# perfbench/run.py, like the working tree. Each side first gets one untimed
# priming run (the build, and the class-data-sharing archive the first run
# after a build writes), then the two sides alternate seed by seed, the
# order flipping every seed, so a wave of host contention hits both.
# Prints per-seed cpu_ms_per_op and setup_s for both sides, then per
# metric each side's median and quartiles, how many pairs the tree wins
# (lower is better; a tie counts for neither side), and whether a gain
# claim would hold: the tree wins at least 9 pairs in 10 of those run,
# fails no more runs than the ref, and its median is below the ref's by
# more than the ref's interquartile range. Nothing under
# perfbench/ is changed; a run that fails its output check is reported,
# not counted. Both sides run for the benchmark's own run_seconds from
# BENCHMARK.json.
# Usage: tools/perfab.sh <workload> <git-ref> [seeds...]
#        (default seeds: 1..10, the fewest pairs that can support a gain claim)
set -euo pipefail
[ $# -ge 2 ] || { sed -n '2,19p' "$0" >&2; exit 2; }
repo="$(cd "$(dirname "$0")/.." && pwd)"
workload="$1"; ref="$2"; shift 2
seeds=("$@"); [ ${#seeds[@]} -gt 0 ] || seeds=(1 2 3 4 5 6 7 8 9 10)
secs="$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$repo/BENCHMARK.json")"

tmp="$(mktemp -d "${TMPDIR:-/tmp}/perfab.XXXXXX")"
trap 'rm -rf "$tmp"' EXIT
mkdir "$tmp/ref"
git -C "$repo" archive "$ref" | tar -x -C "$tmp/ref"

# run <tree> <seed> <out>: one run.py invocation; its last stdout line is the
# result JSON (run.py exits 1 on a failed check but still prints it)
run() {
  (cd "$1" && python3 perfbench/run.py --workload "$workload" --seed "$2" \
    --seconds "$secs" --trace 0) 2>"$3.err" | tail -n 1 >"$3" || true
}

# the working tree's class-data-sharing archive was written by the first
# run after its last build, maybe of another workload; drop it, so that its
# priming run archives this workload's classes, as the ref's fresh export does
rm -f "$repo/perfbench/target/perfbench.jsa"
for side in ref tree; do
  dir="$repo"; [ "$side" = ref ] && dir="$tmp/ref"
  echo "priming $side (build + first run)" >&2
  run "$dir" 0 "$tmp/prime-$side.json"
done

i=0
for s in "${seeds[@]}"; do
  order=(ref tree); [ $((i % 2)) -eq 1 ] && order=(tree ref)
  for side in "${order[@]}"; do
    dir="$repo"; [ "$side" = ref ] && dir="$tmp/ref"
    echo "seed $s: $side" >&2
    run "$dir" "$s" "$tmp/$side-$s.json"
  done
  i=$((i + 1))
done

python3 - "$tmp" "$ref" "$workload" "${seeds[@]}" <<'EOF'
import json, statistics, sys
tmp, ref, workload, seeds = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]

def load(side, seed):
    path = f"{tmp}/{side}-{seed}.json"
    try:
        r = json.load(open(path))
        if r.get("correct") and r.get("failed") == 0:
            return {k: v["value"] for k, v in r["metrics"].items()}
    except (OSError, ValueError):
        pass
    err = open(path + ".err").read().strip().splitlines()
    print(f"seed {seed} {side} failed: {err[-1] if err else 'no output'}", file=sys.stderr)
    return None

cols = ("cpu_ms_per_op", "setup_s")
print(f"{workload}: {ref} -> working tree")
print(f"{'seed':>6} " + " ".join(f"{c + ' ' + s:>22}" for c in cols for s in (ref[:10], "tree")))
# per metric and side, one value per seed; None where the run failed
vals = {(c, s): [] for c in cols for s in ("ref", "tree")}
for seed in seeds:
    m = {s: load(s, seed) for s in ("ref", "tree")}
    for c in cols:
        for s in ("ref", "tree"):
            vals[(c, s)].append(None if m[s] is None else m[s][c])
    print(f"{seed:>6} " + " ".join(
        f"{'FAILED':>22}" if m[s] is None else f"{m[s][c]:>22.3f}"
        for c in cols for s in ("ref", "tree")))

def quartiles(xs):
    xs = [x for x in xs if x is not None]
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else None
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))

q = {k: quartiles(v) for k, v in vals.items()}
for i, name in enumerate(("q1", "median", "q3")):
    print(f"{name:>6} " + " ".join(
        f"{q[(c, s)][i]:>22.3f}" if q[(c, s)] else f"{'-':>22}"
        for c in cols for s in ("ref", "tree")))

# the claim rule, per metric, over all pairs run: a pair with a failed
# side is no win for the tree, and the tree may not fail more runs
for c in cols:
    pairs = [(a, b) for a, b in zip(vals[(c, "ref")], vals[(c, "tree")])
             if a is not None and b is not None]
    n = len(seeds)
    wins = sum(b < a for a, b in pairs)
    losses = sum(b > a for a, b in pairs)
    if not pairs or q[(c, "ref")] is None or q[(c, "tree")] is None:
        print(f"{c}: no complete pairs")
        continue
    gap = q[(c, "ref")][1] - q[(c, "tree")][1]
    iqr = q[(c, "ref")][2] - q[(c, "ref")][0]
    failed = {s: vals[(c, s)].count(None) for s in ("ref", "tree")}
    holds = n >= 10 and wins >= 0.9 * n and gap > iqr and failed["tree"] <= failed["ref"]
    print(f"{c}: tree wins {wins}/{n} pairs ({losses} lost, {len(pairs) - wins - losses} tied, "
          f"{n - len(pairs)} with a failed run); "
          f"median gap {gap:.3f} ({100 * gap / q[(c, 'ref')][1]:+.1f}% of ref) vs ref IQR "
          f"{iqr:.3f}; gain claim (>= 9/10 wins, gap > ref IQR): "
          f"{'holds' if holds else 'does not hold'}"
          f"{'' if failed['tree'] <= failed['ref'] else ' (tree failed more runs)'}")
EOF
