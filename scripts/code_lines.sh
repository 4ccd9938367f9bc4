#!/usr/bin/env bash
# Prints code-size and materialization-site counts over src/main's Scala
# sources, by the rule every CHANGES.md entry uses: a code line is any
# line that is not blank and does not start (after indentation) with
# `//`, `*` or `/*`.
#   code_lines       all src/main Scala code lines
# and, on code lines outside core/ (the one owner of checkpoint blocks
# and of the round loop), the hand-placed materialization sites:
#   localCheckpoint  raw `.localCheckpoint(` calls
#   persist          `.persist(` calls
#   pin              `Caches.pin(` and `Caches.pinShared(` calls
#   track            `Caches.track(` calls
# and the DataFrame windows with no partition key (every row sorted in
# one task):
#   global_window    `Window.orderBy(` calls
# Usage: scripts/code_lines.sh [repo-root]
set -euo pipefail
cd "${1:-$(dirname "$0")/..}"

code() {
    find src/main -name '*.scala' "$@" -print0 | xargs -0 cat |
        grep -vE '^[[:space:]]*($|//|\*|/\*)' || true
}

count() { code ! -path '*/graft/core/*' | grep -oE "$1" | wc -l; }

echo "code_lines $(code | wc -l)"
echo "localCheckpoint $(count '\.localCheckpoint\(')"
echo "persist $(count '\.persist\(')"
echo "pin $(count 'Caches\.pin(Shared)?\(')"
echo "track $(count 'Caches\.track\(')"
echo "global_window $(count 'Window\.orderBy\(')"
