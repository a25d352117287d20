#!/usr/bin/env bash
# Oracle-check gates locally: run graft.Verify on the named gates into a
# fresh temp dir, then replay the DuckDB oracle compare over that output
# with tools/check.py (needs the Python duckdb and pandas modules).
#
#   tools/oracle.sh <sfDir> <gate,...|all>
#   tools/oracle.sh testdata/sf0.01 q111_grouped_manifest,q122_grouped_takedown
#
# Prints one PASS/FAIL line per gate and a "== N pass, N fail ==" summary;
# exits non-zero when any gate fails its oracle. Verify's own log goes to
# stderr. The temp dir is removed on exit.
set -euo pipefail
if [ $# -ne 2 ]; then
  echo "usage: $0 <sfDir> <gate,...|all>" >&2
  exit 2
fi
[ -d "$1" ] || { echo "no such sf dir: $1" >&2; exit 2; }
sf=$(cd "$1" && pwd)
if [ "$2" = all ]; then unset SPARK_GRAFT_ONLY; else export SPARK_GRAFT_ONLY=$2; fi
out=$(mktemp -d "${TMPDIR:-/tmp}/graft-oracle.XXXXXX")
trap 'rm -rf "$out"' EXIT
cd "$(dirname "$0")/.."
sbt -batch "runMain graft.Verify $sf $out" >&2
python3 tools/check.py "$sf" "$out"
