#!/usr/bin/env bash
# Counts the chmod, chown and ls processes a command forks, e.g. Hadoop's
# shell fallbacks for local file permissions.
# Usage: tools/forks.sh <command> [args...]
# Puts logging wrappers for the three first on PATH, runs the command, then
# prints counts per command and per path pattern: the last two path parts,
# with UUIDs, task attempts, 8-digit hex and other numbers masked.
dir=$(mktemp -d) && log="$dir/log" && : > "$log" || exit 1
for c in chmod chown ls; do
  real=$(command -v "$c") || continue
  printf '#!/bin/sh\necho "%s $*" >> "%s"\nexec %s "$@"\n' "$c" "$log" "$real" > "$dir/$c"
  chmod +x "$dir/$c"
done
PATH="$dir:$PATH" "$@"; rc=$?
echo "== forks per command"; awk '{print $1}' "$log" | sort | uniq -c | sort -rn
echo "== forks per path pattern"
awk '{n = split($NF, a, "/"); print $1, (n > 1 ? a[n-1] "/" : "") a[n]}' "$log" |
  sed -E 's/[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}/<uuid>/g; s/attempt_[0-9a-z_]+/attempt_*/g; s/[0-9a-f]{8}/<hex>/g; s/[0-9]+/N/g' |
  sort | uniq -c | sort -rn
rm -rf "$dir"; exit $rc
