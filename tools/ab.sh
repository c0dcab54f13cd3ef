#!/usr/bin/env bash
# Interleaved before/after A/B of catalog queries (the r12/r13 method):
# alternates RunOne blocks between two compiled-class snapshots so host-
# contention waves hit both sides. Each block runs every query once per
# side, BEFORE then AFTER, each in its own JVM with --times N (run 1
# absorbs codegen/JIT; judge on the warm runs' executor CPU + stage
# count, wall as secondary). After the blocks it prints, per query and
# side, the median executor CPU and stage count over the warm runs
# (runs 2..N of every block) and the row counts seen.
# Usage: tools/ab.sh <query> <beforeClasses> <afterClasses> [blocks=2] [times=3] [sf=/root/testdata/sf0.1]
# <query> may be a comma-separated list of queries.
set -euo pipefail
cd "$(dirname "$0")/.."
Q="$1"; BEFORE="$2"; AFTER="$3"; BLOCKS="${4:-2}"; TIMES="${5:-3}"; SF="${6:-/root/testdata/sf0.1}"
LOG="$(mktemp)"
trap 'rm -f "$LOG"' EXIT
IFS=',' read -ra QUERIES <<< "$Q"
for i in $(seq 1 "$BLOCKS"); do
  for q in "${QUERIES[@]}"; do
    for side in BEFORE AFTER; do
      classes="$BEFORE"; [ "$side" = AFTER ] && classes="$AFTER"
      echo "=== block $i $side $q"
      GRAFT_CLASSES="$classes" bash tools/run.sh graft.RunOne "$q" "$SF" --times "$TIMES" 2>/dev/null \
        | grep "^$q\[" | sed "s/^/$side /" | tee -a "$LOG" | cut -d' ' -f2-
    done
  done
done
echo "=== warm medians (runs 2..$TIMES of each block)"
# lines: <side> <query>[<run>]: <rows> rows in <s> s cpu=<c> s run=<r> s stages=<n>
awk '
  function median(list,   a, n, t, i, j) {
    n = split(list, a, " ")
    for (i = 2; i <= n; i++) for (j = i; j > 1 && a[j - 1] + 0 > a[j] + 0; j--) {
      t = a[j]; a[j] = a[j - 1]; a[j - 1] = t }
    return n % 2 ? a[(n + 1) / 2] : (a[n / 2] + a[n / 2 + 1]) / 2
  }
  {
    side = $1; q = $2; sub(/\[.*/, "", q); run = $2; gsub(/.*\[|\].*/, "", run)
    if (run + 0 < 2) next
    k = q SUBSEP side
    if (!(q in seen)) { seen[q] = 1; order[++nq] = q }
    cpu[k] = cpu[k] " " substr($8, 5); st[k] = st[k] " " substr($12, 8)
    if (index(" " rows[k] " ", " " $3 " ") == 0) rows[k] = rows[k] " " $3
  }
  END {
    printf "%-28s %-6s %8s %7s  %s\n", "query", "side", "cpu_s", "stages", "rows"
    for (i = 1; i <= nq; i++) for (s = 1; s <= 2; s++) {
      side = s == 1 ? "BEFORE" : "AFTER"; k = order[i] SUBSEP side
      if (k in cpu) printf "%-28s %-6s %8.2f %7s %s\n", order[i], side,
        median(cpu[k]), median(st[k]), rows[k]
    }
  }' "$LOG"
