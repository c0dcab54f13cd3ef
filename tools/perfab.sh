#!/usr/bin/env bash
# Interleaved A/B of one perfbench workload: a git ref against the working
# tree. The ref is checked out into a temporary git worktree outside the
# repo (under $TMPDIR) and built there by perfbench/run.py, like the working
# tree. Each side first gets one untimed priming run (the build, and the
# class-data-sharing archive the first run after a build writes), then the
# two sides alternate seed by seed, the order flipping every seed, so a
# wave of host contention hits both. Prints per-seed cpu_ms_per_op and
# setup_s for both sides and their medians. Nothing under perfbench/ is
# changed; a run that fails its output check is reported, not counted.
# Both sides run for the benchmark's own run_seconds from BENCHMARK.json.
# Usage: tools/perfab.sh <workload> <git-ref> [seeds...]
#        (default seeds: 1..10, the fewest pairs that can support a gain claim)
set -euo pipefail
[ $# -ge 2 ] || { sed -n '2,14p' "$0" >&2; exit 2; }
repo="$(cd "$(dirname "$0")/.." && pwd)"
workload="$1"; ref="$2"; shift 2
seeds=("$@"); [ ${#seeds[@]} -gt 0 ] || seeds=(1 2 3 4 5 6 7 8 9 10)
secs="$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$repo/BENCHMARK.json")"

tmp="$(mktemp -d "${TMPDIR:-/tmp}/perfab.XXXXXX")"
cleanup() {
  git -C "$repo" worktree remove --force "$tmp/ref" >/dev/null 2>&1 || true
  git -C "$repo" worktree prune
  rm -rf "$tmp"
}
trap cleanup EXIT
git -C "$repo" worktree add --detach "$tmp/ref" "$ref" >/dev/null

# run <tree> <seed> <out>: one run.py invocation; its last stdout line is the
# result JSON (run.py exits 1 on a failed check but still prints it)
run() {
  (cd "$1" && python3 perfbench/run.py --workload "$workload" --seed "$2" \
    --seconds "$secs" --trace 0) 2>"$3.err" | tail -n 1 >"$3" || true
}

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
vals = {(c, s): [] for c in cols for s in ("ref", "tree")}
for seed in seeds:
    m = {s: load(s, seed) for s in ("ref", "tree")}
    cells = []
    for c in cols:
        for s in ("ref", "tree"):
            if m[s] is None:
                cells.append(f"{'FAILED':>22}")
            else:
                vals[(c, s)].append(m[s][c])
                cells.append(f"{m[s][c]:>22.3f}")
    print(f"{seed:>6} " + " ".join(cells))
def med(xs):
    return f"{statistics.median(xs):>22.3f}" if xs else f"{'-':>22}"
print(f"{'median':>6} " + " ".join(med(vals[(c, s)]) for c in cols for s in ("ref", "tree")))
EOF
