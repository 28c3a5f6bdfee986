#!/usr/bin/env bash
# Count code lines: every line of the given files except blank lines and
# lines that start (after indentation) with `//`, `*` or `/**`.
# Usage: tools/code_lines.sh <file|dir>...   (directories: every *.scala below)
# Prints one "count path" line per file, then the total.
set -euo pipefail
if [ "$#" -eq 0 ]; then
  echo "usage: $0 <file|dir>..." >&2
  exit 2
fi
files=()
for arg in "$@"; do
  if [ -d "$arg" ]; then
    while IFS= read -r f; do files+=("$f"); done < <(find "$arg" -name '*.scala' -type f | sort)
  else
    files+=("$arg")
  fi
done
total=0
for f in "${files[@]}"; do
  n=$(grep -cvE '^[[:space:]]*($|//|\*|/\*\*)' "$f" || true)
  printf '%6d %s\n' "$n" "$f"
  total=$((total + n))
done
printf '%6d total\n' "$total"
