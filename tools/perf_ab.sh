#!/usr/bin/env bash
# Alternating A/B of one perfbench workload: a parent revision against the
# working tree.
#
#   tools/perf_ab.sh <workload> <pairs> <first-seed> [parent-rev] [out-dir]
#
# parent-rev defaults to HEAD, which is the parent only while the change is
# uncommitted; once it is committed, pass the revision before it (HEAD~1).
# The script stops if the working tree (untracked files included) does not
# differ from parent-rev.
#
# The parent revision is exported with `git archive` into
# <out-dir>/parent-src, which keeps its own build cache between runs of this
# script. Pair i runs perfbench/run.py once on each side with seed
# <first-seed> + i, untraced, for BENCHMARK.json's run_seconds; the parent
# goes first in even pairs and the change first in odd ones, so neither side
# always runs on the warmer host. Each run's record lines are saved under
# <out-dir>/<parent-sha>-<workload>-<first-seed>/{parent,change} (default
# out-dir: .bench_build/ab), named so that perfbench/compare.py pairs them in
# run order; that folder is emptied first, so the verdicts printed at the end
# cover this invocation's runs only. The script only calls perfbench; it
# never edits it.
set -euo pipefail

[ $# -ge 3 ] || { sed -n '5p' "$0" | sed 's/^# *//' >&2; exit 2; }
workload=$1 pairs=$2 seed0=$3
rev=${4:-HEAD}
change_root=$(cd "$(dirname "$0")/.." && pwd)
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$change_root/BENCHMARK.json")
out=${5:-$change_root/.bench_build/ab}
want=$(git -C "$change_root" rev-parse "$rev")
if git -C "$change_root" diff --quiet "$want" &&
  [ -z "$(git -C "$change_root" ls-files --others --exclude-standard)" ]; then
  echo "perf_ab: the working tree does not differ from $rev ($want);" \
    "pass the change's parent revision" >&2
  exit 2
fi
mkdir -p "$out"
out=$(cd "$out" && pwd)

parent_root=$out/parent-src
if [ "$(cat "$parent_root/.ab-rev" 2>/dev/null)" != "$want" ]; then
  rm -rf "$parent_root"
  mkdir -p "$parent_root"
  git -C "$change_root" archive "$want" | tar -x -C "$parent_root"
  echo "$want" > "$parent_root/.ab-rev"
fi

records=$out/${want:0:12}-$workload-$seed0
rm -rf "$records"
mkdir -p "$records/parent" "$records/change"

run() { # side root pair seed
  local dest
  dest=$records/$1/$(printf 'pair%03d' "$3")-seed$4.json
  echo "[perf_ab] pair $3 $1 seed $4" >&2
  (cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$4" \
    --seconds "$seconds" --trace 0) > "$dest"
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then
    run parent "$parent_root" "$i" "$seed"; run change "$change_root" "$i" "$seed"
  else
    run change "$change_root" "$i" "$seed"; run parent "$parent_root" "$i" "$seed"
  fi
done

python3 "$change_root/perfbench/compare.py" "$records/parent" "$records/change" \
  --benchmark "$change_root/BENCHMARK.json"
