#!/usr/bin/env bash
# Prints two counts over src/main's Scala sources, by the rule every
# CHANGES.md entry uses: a code line is any line that is not blank and
# does not start (after indentation) with `//`, `*` or `/*`.
#   code_lines       all src/main Scala code lines
#   localCheckpoint  `.localCheckpoint(` calls on code lines outside
#                    core/Caches.scala (the one owner of checkpoint blocks)
# Usage: scripts/code_lines.sh [repo-root]
set -euo pipefail
cd "${1:-$(dirname "$0")/..}"

code() {
    find src/main -name '*.scala' "$@" -print0 | xargs -0 cat |
        grep -vE '^[[:space:]]*($|//|\*|/\*)' || true
}

echo "code_lines $(code | wc -l)"
echo "localCheckpoint $(code ! -path '*/core/Caches.scala' |
    grep -o '\.localCheckpoint(' | wc -l)"
