#!/usr/bin/env bash
# Count the chmod, ls and stat child processes one command starts.
#
#   tools/count_forks.sh CMD [ARG...]
#
# Puts logging shims for chmod, ls and stat first on PATH, in a fresh
# mktemp dir, for CMD and its children only. Each shim appends one line
# to a log and then execs the real binary, so CMD behaves as before. A
# program that finds these commands through PATH (a JVM's ProcessBuilder,
# Hadoop's Shell.execCommand, shell scripts) is counted; one that calls
# an absolute path or makes the syscall itself is not.
#
# CMD's own output passes through. When it exits, the counts go to stderr,
# one line per command and argument (file operands that exist are
# dropped, so `chmod 0644 /a/b` counts as `chmod 0644`), then the total per
# command. The exit status is CMD's.
set -u
if [ "$#" -eq 0 ]; then
  echo "usage: $0 CMD [ARG...]" >&2
  exit 2
fi

shims=$(mktemp -d "${TMPDIR:-/tmp}/count_forks.XXXXXX")
trap 'rm -rf "$shims"' EXIT
log="$shims/forks.log"
: > "$log"

for name in chmod ls stat; do
  real=$(command -v "$name") || { echo "count_forks: no $name on PATH" >&2; exit 2; }
  cat > "$shims/$name" <<EOF
#!/bin/sh
line="$name"
for a in "\$@"; do
  [ -e "\$a" ] || line="\$line \$a"
done
printf '%s\n' "\$line" >> "$log"
exec "$real" "\$@"
EOF
  chmod 0755 "$shims/$name"
done

PATH="$shims:$PATH" "$@"
status=$?

{
  echo "[count_forks] per command and argument:"
  sort "$log" | uniq -c | sort -rn
  echo "[count_forks] per command:"
  for name in chmod ls stat; do
    printf '%8d %s\n' "$(grep -c "^$name\( \|\$\)" "$log")" "$name"
  done
} >&2
exit "$status"
