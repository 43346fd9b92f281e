#!/usr/bin/env bash
# Pre-pause / pre-commit gate: never end a turn with a red build.
#
# Usage: scripts/preflight.sh [q_names]
#   q_names  optional comma-separated query list (e.g. "q237,q238";
#            an entry selects its exact name or `<entry>_*`) to smoke
#            through graft.Verify + scripts/check.py at sf0.001.
#            Without it, only compilation (main + test) is checked.
#
# Exit code 0 = safe to commit/pause; anything else = fix first.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== preflight: sbt Test/compile =="
sbt -batch "Test/compile" > /tmp/preflight_compile.log 2>&1 || {
  tail -30 /tmp/preflight_compile.log
  echo "PREFLIGHT FAIL: compile"; exit 1
}

if [[ $# -ge 1 && -n "${1:-}" ]]; then
  echo "== preflight: smoke $1 at sf0.001 =="
  rm -rf /tmp/preflight_out
  SPARK_GRAFT_ONLY="$1" SPARK_GRAFT_CPUS=8 \
    sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/preflight_out" \
    > /tmp/preflight_verify.log 2>&1 || {
    tail -30 /tmp/preflight_verify.log
    echo "PREFLIGHT FAIL: graft.Verify"; exit 1
  }
  python3 scripts/check.py /root/testdata/sf0.001 /tmp/preflight_out || {
    echo "PREFLIGHT FAIL: oracle check"; exit 1
  }
fi

echo "PREFLIGHT OK"
