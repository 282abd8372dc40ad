#!/usr/bin/env bash
# Graph-family oracle check: runs graft.Verify on every query whose body
# calls `Graph.` or `Dedup.duplicateClusters`, then compares each result
# with the DuckDB oracle through scripts/compare.py.
#
#   scripts/graphoracle.sh <sf-dir> [<sf-dir> ...]
#
# Each <sf-dir> is a scale-factor data directory (the one compare.py and
# graft.Verify take). The query list is derived from SparkEntry.scala on
# every run, so new graph queries join without an edit here. Results go
# to a fresh temporary directory, printed first. SPARK_GRAFT_CPUS
# defaults to 4. Exits non-zero if any scale factor has a failing query.
set -euo pipefail
[ $# -ge 1 ] || { echo "usage: $0 <sf-dir> [<sf-dir> ...]" >&2; exit 2; }
dirs=()
for sf in "$@"; do dirs+=("$(cd "$sf" && pwd)"); done
cd "$(dirname "$0")/.."

queries=$(python3 - <<'PY'
import re
lines = open("src/main/scala/graft/SparkEntry.scala").read().split("\n")
end = next(i for i, l in enumerate(lines) if "def preconditions" in l)
ents = [(i, m.group(1)) for i, l in enumerate(lines[:end])
        for m in [re.match(r'    "(q\d+\w*)" -> ', l)] if m]
bounds = [i for i, _ in ents[1:]] + [end]
print(",".join(n for (i, n), j in zip(ents, bounds) if re.search(
    r"\bGraph\.|Dedup\.duplicateClusters", "\n".join(lines[i:j]))))
PY
)
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
