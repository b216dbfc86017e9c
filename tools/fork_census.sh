#!/usr/bin/env bash
# Fork census: how many external processes one benchmark run starts for
# file-system bookkeeping. Hadoop's local FS falls back to forking
# `chmod`, `ls -ld`, `stat`, `df` or `du` when its native library is
# absent, and each fork costs milliseconds on the write path.
#
#   tools/fork_census.sh <ingest|lake_dml|curation> [seed] [seconds]
#
# Runs `python3 perfbench/run.py --workload <w> --seed <seed> --seconds
# <seconds> --trace 0` (defaults: seed 1, 5 s) with counting shims for
# those five commands first on PATH; each shim logs its name and its
# parent's name, then runs the real command. Prints one line per command:
# the forks made by the benchmark JVM, then those made by anything else
# (the build script, the runner). Exits with the run's exit code.
set -euo pipefail
root="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
workload="${1:?usage: fork_census.sh <workload> [seed] [seconds]}"
seed="${2:-1}"
seconds="${3:-5}"
cmds=(chmod ls stat df du)

shims="$(mktemp -d "${TMPDIR:-/tmp}/fork-census.XXXXXX")"
trap 'rm -rf "$shims"' EXIT
log="$shims/forks.log"
: > "$log"
for c in "${cmds[@]}"; do
  real="$(command -v "$c")" || { echo "fork_census: no $c on PATH" >&2; exit 2; }
  cat > "$shims/$c" <<EOF
#!/bin/bash
parent=?
read -r parent < /proc/\$PPID/comm 2>/dev/null || true
echo "$c \$parent" >> "$log"
exec "$real" "\$@"
EOF
  chmod +x "$shims/$c"
done

cd "$root"
rc=0
PATH="$shims:$PATH" python3 perfbench/run.py --workload "$workload" --seed "$seed" \
  --seconds "$seconds" --trace 0 > "$shims/run.out" 2>&1 || rc=$?
if [ "$rc" -ne 0 ]; then
  echo "fork_census: benchmark run failed (exit $rc); its output ends:" >&2
  tail -20 "$shims/run.out" >&2
fi

echo "fork census: workload=$workload seed=$seed seconds=$seconds"
printf '%-6s %8s %8s\n' command jvm other
for c in "${cmds[@]}"; do
  jvm=$(awk -v c="$c" '$1 == c && $2 == "java"' "$log" | wc -l)
  other=$(awk -v c="$c" '$1 == c && $2 != "java"' "$log" | wc -l)
  printf '%-6s %8d %8d\n' "$c" "$jvm" "$other"
done
exit "$rc"
