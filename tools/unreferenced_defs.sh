#!/bin/bash
# List each `def` in src/main/scala that is named nowhere else in
# src/main/scala or perfbench/src: public API that no main code calls.
#
# A name counts as referenced when it occurs as a whole word in those trees
# more often than it is defined there (overloads and same-named defs in
# other objects share one name, so they are reported together or not at
# all). Comment lines (starting with `*`, `/*` or `//`) are not counted, so
# a scaladoc link is not a caller. `override def`s and `def main` are skipped: Spark and the JVM call
# them, not Scala code in the tree. Each line gives the definition site and
# the number of lines in src/test/scala that name the def:
#
#   <file>:<line> <name> tests=<n>
#
# and a last line `<n> unreferenced defs` with the number of lines above.
#
# Usage: tools/unreferenced_defs.sh   (from anywhere inside the repo)
set -u
cd "$(dirname "$0")/.."

MAIN=src/main/scala
CALLERS=(src/main/scala perfbench/src)
TESTS=src/test/scala

# lines under the given trees that name $1, comment lines dropped
code_lines() {
  local name=$1; shift
  grep -rhw "$name" "$@" | grep -vE '^[[:space:]]*(\*|/\*|//)'
}

grep -rnE '^[[:space:]]*((private|protected)(\[[A-Za-z.]+\])? |final |implicit |@inline )*def [A-Za-z_][A-Za-z0-9_]*' "$MAIN" \
  | sed -E 's/^([^:]+:[0-9]+):.*def ([A-Za-z_][A-Za-z0-9_]*).*/\1 \2/' \
  | sort -t' ' -k2,2 -k1,1V \
  | while read -r site name; do
      [ "$name" = main ] && continue
      defs=$(grep -rhowE "def $name" "$MAIN" | wc -l)
      uses=$(code_lines "$name" "${CALLERS[@]}" | grep -ow "$name" | wc -l)
      [ "$uses" -gt "$defs" ] && continue
      tests=$(code_lines "$name" "$TESTS" | wc -l)
      echo "$site $name tests=$tests"
    done \
  | awk '{ print } END { print NR " unreferenced defs" }'
