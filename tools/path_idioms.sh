#!/usr/bin/env bash
# Path re-spelling idioms in the tree operators (graft.fs, graft.acl,
# graft.compact, graft.promotor): code lines (neither blank nor
# comment-only) that convert a folder's spelling by hand instead of
# going through graft.fs.Root. Prints the count per file and in total;
# exits 1 when any such line sits outside Root.scala.
# Usage: tools/path_idioms.sh   (from the repository root)
set -euo pipefail
idioms='makeQualified|getPathWithoutSchemeAndAuthority|stripSuffix\("/"\)|toUri\.get(Raw)?Path|Fs\.rebase|Delta\.rel\(|new (org\.apache\.hadoop\.fs\.)?Path\([^()]*\)\.toString|"%20"'
total=0
outside=0
for f in src/main/scala/graft/{fs,acl,compact,promotor}/*.scala; do
  n=$(grep -vE '^\s*($|//|/\*\*|\*)' "$f" | grep -cE "$idioms" || true)
  printf '%6d  %s\n' "$n" "$f"
  total=$((total + n))
  if [ "$(basename "$f")" != Root.scala ]; then outside=$((outside + n)); fi
done
printf '%6d  total, %d outside Root.scala\n' "$total" "$outside"
[ "$outside" -eq 0 ]
