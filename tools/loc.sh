#!/usr/bin/env bash
# Count the non-blank, non-comment Scala lines under <tree>/src/main/scala.
#   tools/loc.sh [tree]        (tree defaults to the current directory)
# A line counts unless it is blank, starts with `//`, or lies wholly inside
# a `/* … */` (or scaladoc `/** … */`) block. Prints one number, so two
# trees compare as `tools/loc.sh old; tools/loc.sh new`.
set -euo pipefail
tree="${1:-.}"
find "$tree/src/main/scala" -name '*.scala' -print0 | sort -z | xargs -0 awk '
  FNR == 1 { inblock = 0 }
  {
    l = $0
    sub(/^[ \t]+/, "", l)
    if (inblock) {
      if (index(l, "*/") == 0) next
      inblock = 0
      l = substr(l, index(l, "*/") + 2)
      sub(/^[ \t]+/, "", l)
    }
    while (substr(l, 1, 2) == "/*") {
      end = index(substr(l, 3), "*/")
      if (end == 0) { inblock = 1; next }
      l = substr(l, end + 4)
      sub(/^[ \t]+/, "", l)
    }
    if (l == "" || substr(l, 1, 2) == "//") next
    n++
  }
  END { print n + 0 }
'
