#!/usr/bin/env bash
# Graph-family oracle check: runs graft.Verify on every query whose body
# calls `Graph.` or `Dedup.duplicateClusters`, then compares each result
# with the DuckDB oracle through scripts/compare.py.
#
#   scripts/graphoracle.sh <sf-dir> [<sf-dir> ...]
#
# Each <sf-dir> is a scale-factor data directory (the one compare.py and
# graft.Verify take). The query list is derived from the family files
# under src/main/scala/graft/queries on every run, so new graph queries
# join without an edit here. Results go to a fresh temporary directory,
# printed first. SPARK_GRAFT_CPUS defaults to 4. Exits non-zero if any
# scale factor has a failing query.
set -euo pipefail
[ $# -ge 1 ] || { echo "usage: $0 <sf-dir> [<sf-dir> ...]" >&2; exit 2; }
dirs=()
for sf in "$@"; do dirs+=("$(cd "$sf" && pwd)"); done
cd "$(dirname "$0")/.."

# A query starts at its `QueryDef("qNN_...",` line; comment lines are
# skipped, so a neighbour's comment naming `Graph.` does not count.
queries=$(awk '
  FNR == 1 { q = "" }
  match($0, /^    QueryDef\("q[0-9]+[a-z0-9_]*"/) { q = substr($0, 15, RLENGTH - 15) }
  q && !/^ *\/\// && /(^|[^A-Za-z0-9_])Graph\.|Dedup\.duplicateClusters/ && !seen[q]++ {
    printf "%s%s", (n++ ? "," : ""), q }
' src/main/scala/graft/queries/*.scala)
echo "graph-family queries ($(tr ',' '\n' <<<"$queries" | wc -l)): $queries"

out=$(mktemp -d -t graphoracle.XXXXXX)
echo "results under $out"
status=0
for dir in "${dirs[@]}"; do
  res="$out/$(basename "$dir")"
  SPARK_GRAFT_ONLY=$queries SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-4} \
    sbt --batch "runMain graft.Verify $dir $res"
  echo "== $(basename "$dir")"
  python3 scripts/compare.py "$dir" "$res" || status=1
done
exit $status
