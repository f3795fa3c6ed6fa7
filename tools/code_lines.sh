#!/usr/bin/env bash
# Code lines per file and in total: lines that are neither blank nor
# comment-only, counted with grep -cvE '^\s*($|//|/\*\*|\*)'.
# Usage: tools/code_lines.sh <file>...
set -euo pipefail
if [ "$#" -eq 0 ]; then
  echo "usage: $0 <file>..." >&2
  exit 2
fi
total=0
for f in "$@"; do
  n=$(grep -cvE '^\s*($|//|/\*\*|\*)' "$f" || true)
  printf '%6d  %s\n' "$n" "$f"
  total=$((total + n))
done
printf '%6d  total\n' "$total"
