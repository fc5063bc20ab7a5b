#!/usr/bin/env bash
# Runs a command with logging wrappers for chmod, readlink, stat, ls and
# rm first on its PATH, then prints how many of each it spawned. Each
# wrapper appends "<name> <args>" to a log and execs the real binary, so
# the command behaves as without them. The log's path is exported as
# SPAWNS_LOG: graft.SpawnProbe reads it to print its counts per phase.
# The counts include what the command itself runs (an sbt launcher
# script, for one); tools/run_main.sh spawns none of these itself.
#   tools/spawns.sh tools/run_main.sh graft.SpawnProbe /tmp/probe 3 4000 8
set -uo pipefail
if [[ $# -eq 0 ]]; then
  echo "usage: tools/spawns.sh <command> [args...]" >&2
  exit 2
fi
dir=$(mktemp -d "${TMPDIR:-/tmp}/spawns.XXXXXX")
trap 'rm -rf "$dir"' EXIT
mkdir "$dir/bin"
log="$dir/log"
: > "$log"
cmds=(chmod readlink stat ls rm)
for c in "${cmds[@]}"; do
  real=$(command -v "$c") || continue
  cat > "$dir/bin/$c" <<WRAP
#!/bin/sh
echo "$c \$*" >> "$log"
exec "$real" "\$@"
WRAP
  chmod +x "$dir/bin/$c"
done
PATH="$dir/bin:$PATH" SPAWNS_LOG="$log" "$@"
status=$?
counts=""
for c in "${cmds[@]}"; do
  counts+=" $c=$(grep -c "^$c " "$log")"
done
echo "spawns:$counts"
exit "$status"
