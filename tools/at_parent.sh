#!/bin/bash
# Run named spec files on a past revision and on the working tree, and
# print each test's result on both: the "fails before the fix" check.
#
# The revision is exported with `git archive` into a temporary directory
# (so the repository's .git gains no worktree entry), and the named files
# are copied over it from the working tree, together with every file under
# src/test that the revision lacks (new test helpers). A helper that the
# revision has in an older form (say, a new method in SparkSpec) is brought
# along by naming its file too. Then `sbt testOnly` runs the spec classes
# the named files declare, first in that tree, then in the working tree.
# Nothing is fetched: sbt resolves from its offline cache, as in the
# working tree. The temporary tree is removed on exit.
#
# Output, one line per test seen in either tree, sorted:
#
#   <Spec>::<test name>  <REV>=<result>  tree=<result>
#
# where a result is pass, FAIL, canceled, ignored, absent (the tree has no
# such test) or no-compile (the tree's sources did not compile, which is
# reported as such, not as a failure, after the first compile errors).
# Exit status 2 on bad usage, else 0.
#
# Usage: tools/at_parent.sh REV FILE...
#   tools/at_parent.sh HEAD~1 src/test/scala/graft/ops/SimilaritySpec.scala
set -u
cd "$(dirname "$0")/.."

if [ $# -lt 2 ]; then
  sed -n '2,/^set -u/p' "$0" | sed '$d; s/^# \{0,1\}//' >&2
  exit 2
fi
REV=$1; shift
rev=$(git rev-parse --short "$REV^{commit}" 2>/dev/null) || { echo "unknown revision: $REV" >&2; exit 2; }
for f in "$@"; do
  [ -f "$f" ] || { echo "no such file: $f" >&2; exit 2; }
done

tree=$(mktemp -d "${TMPDIR:-/tmp}/at_parent.XXXXXX")
logs=$(mktemp -d "${TMPDIR:-/tmp}/at_parent_logs.XXXXXX")
trap 'rm -rf "$tree" "$logs"' EXIT

git archive "$rev" | tar -x -C "$tree"
{ printf '%s\n' "$@"
  find src/test -type f | while read -r f; do
    git cat-file -e "$rev:$f" 2>/dev/null || echo "$f"
  done
} | sort -u | while read -r f; do
  mkdir -p "$tree/$(dirname "$f")"
  cp "$f" "$tree/$f"
done

# fully qualified names of the spec classes the named files declare
classes=$(for f in "$@"; do
  pkg=$(sed -nE 's/^package ([A-Za-z0-9_.]+).*/\1/p' "$f" | head -1)
  sed -nE 's/^class ([A-Za-z0-9_]+) extends.*/\1/p' "$f" | sed "s/^/${pkg:+$pkg.}/"
done | sort -u | tr '\n' ' ')
[ -n "$classes" ] || { echo "no spec class in: $*" >&2; exit 2; }

# one line per test: <Spec>::<name><TAB><result>, or `no-compile`
results() {
  if grep -q 'Compilation failed' "$1"; then echo no-compile; return; fi
  sed -E 's/\x1b\[[0-9;]*m//g' "$1" | awk '
    /^\[info\] [A-Za-z0-9_]+:$/ { spec = $2; sub(/:$/, "", spec); next }
    /^\[info\] - / {
      t = $0; sub(/^\[info\] - /, "", t); r = "pass"
      if (sub(/ \*\*\* FAILED \*\*\*$/, "", t)) r = "FAIL"
      else if (sub(/ !!! CANCELED !!!$/, "", t)) r = "canceled"
      else if (sub(/ !!! IGNORED !!!$/, "", t)) r = "ignored"
      print spec "::" t "\t" r
    }'
}

(cd "$tree" && sbt -batch "testOnly $classes" > "$logs/rev.log" 2>&1)
sbt -batch "testOnly $classes" > "$logs/tree.log" 2>&1
results "$logs/rev.log" > "$logs/rev.txt"
results "$logs/tree.log" > "$logs/tree.txt"

for side in rev tree; do
  if [ "$(cat "$logs/$side.txt")" = no-compile ]; then
    [ $side = rev ] && name=$rev || name=tree
    echo "$name: the sources do not compile; its tests are reported as no-compile"
    grep -E '^\[error\] .*\.scala:[0-9]+' "$logs/$side.log" | head -5 | sed 's/^/  /'
  fi
done
awk -F'\t' -v rev="$rev" '
  $0 == "no-compile" { nc[side] = 1; next }
  { key[$1] = 1; res[side, $1] = $2 }
  END {
    for (k in key) {
      a = ((1, k) in res) ? res[1, k] : (nc[1] ? "no-compile" : "absent")
      b = ((2, k) in res) ? res[2, k] : (nc[2] ? "no-compile" : "absent")
      print k "  " rev "=" a "  tree=" b
    }
  }' side=1 "$logs/rev.txt" side=2 "$logs/tree.txt" | sort
