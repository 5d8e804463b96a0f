#!/bin/bash
# List each `def` in src/main/scala that is named nowhere else in
# src/main/scala or perfbench/src: public API that no main code calls.
#
# A name counts as referenced when it occurs as a whole word in those trees
# more often than it is defined there (overloads and same-named defs in
# other objects share one name, so they are reported together or not at
# all). Only code counts, so a scaladoc link is not a caller: comments are
# dropped, a string literal keeps only its interpolated `$x`/`${...}` parts
# (`col("norm")` does not call `def norm`), and a local `val`/`var` binding
# of the name is not a use (`var dot = 0.0` does not call `def dot`; later
# uses of such a local still count). `override def`s and `def main` are
# skipped: Spark and the JVM call them, not Scala code in the tree. Each
# line gives the definition site, the number of lines in src/test/scala
# that name the def, and the COVERAGE.md line of the first table row that
# names the def as a whole word and cites a reference source line
# (`<file>.py:<line>`), or `none` when no row does:
#
#   <file>:<line> <name> tests=<n> coverage=<line>|none
#
# and a last line `<n> unreferenced defs, <m> without a COVERAGE.md row`.
# It exits 1 when m > 0: a def that no main code calls must serve a
# reference capability that COVERAGE.md names.
#
# Usage: tools/unreferenced_defs.sh   (from anywhere inside the repo)
set -u
cd "$(dirname "$0")/.."

MAIN=src/main/scala
CALLERS=(src/main/scala perfbench/src)
TESTS=src/test/scala
COVERAGE=COVERAGE.md

# lines under the given trees that name $1, comment lines dropped
code_lines() {
  local name=$1; shift
  grep -rhw "$name" "$@" | grep -vE '^[[:space:]]*(\*|/\*|//)'
}

# the callers' code with comments and string contents stripped, scanned left
# to right so a `//` in a string or a quote in a comment is not misread
read -r -d '' STRIP <<'PERL'
sub tok {
  my ($p, $b) = defined $2 ? ($1, $2) : defined $4 ? ($3, $4) : (undef, undef);
  return $& =~ m#^/# ? "" : $& unless defined $b;   # comment or char literal
  return "" if $p eq "";                            # no interpolator
  return join(" ", $b =~ /\$\{[^\}]*\}|\$\w+/g);    # interpolated parts only
}
s#(\w*)"""(.*?)"""|(\w*)"((?:[^"\\\n]|\\.)*)"|//[^\n]*|/\*.*?\*/|'(?:[^'\\\n]|\\.)'#tok()#gse;
PERL
CODE=$(mktemp -d)
trap 'rm -rf "$CODE"' EXIT
find "${CALLERS[@]}" -name '*.scala' | while read -r f; do
  mkdir -p "$CODE/$(dirname "$f")"
  perl -0777 -pe "$STRIP" "$f" > "$CODE/$f"
done

grep -rnE '^[[:space:]]*((private|protected)(\[[A-Za-z.]+\])? |final |implicit |@inline )*def [A-Za-z_][A-Za-z0-9_]*' "$MAIN" \
  | sed -E 's/^([^:]+:[0-9]+):.*def ([A-Za-z_][A-Za-z0-9_]*).*/\1 \2/' \
  | sort -t' ' -k2,2 -k1,1V \
  | while read -r site name; do
      [ "$name" = main ] && continue
      defs=$(grep -rhowE "def $name" "$MAIN" | wc -l)
      uses=$(grep -rhw "$name" "$CODE" | NAME=$name perl -pe 's/\b(?:val|var) \Q$ENV{NAME}\E\b//g' \
        | grep -ow "$name" | wc -l)
      [ "$uses" -gt "$defs" ] && continue
      tests=$(code_lines "$name" "$TESTS" | wc -l)
      row=$(grep -nw -- "$name" "$COVERAGE" | grep -E '^[0-9]+:\|' \
        | grep -E '[A-Za-z0-9_]+\.py:[0-9]+' | head -1 | cut -d: -f1)
      echo "$site $name tests=$tests coverage=${row:-none}"
    done \
  | awk '{ print } / coverage=none$/ { bare++ }
      END { print NR " unreferenced defs, " bare + 0 " without a COVERAGE.md row"; exit bare > 0 }'
