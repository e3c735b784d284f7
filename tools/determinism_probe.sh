#!/usr/bin/env bash
# The determinism probe: runs graft.Verify over one sf dir at 4 and then at
# 16 Spark cores, into <outBase>/c4 and <outBase>/c16, and compares every
# query's rows with tools/compare_outputs.py. Exits non-zero on any diff or
# on a failed run.
#
#   tools/determinism_probe.sh <sfDir> <outBase>
#
# The runs go one after the other, since both materialize under
# /tmp/graft_oracle. Each run's log goes to <outBase>/verify_c<cores>.log.
set -euo pipefail
if [ $# -ne 2 ]; then
  echo "usage: $0 <sfDir> <outBase>" >&2
  exit 2
fi
sf=$(realpath "$1")
out=$(realpath -m "$2")
mkdir -p "$out"
cd "$(dirname "$0")/.."
for cores in 4 16; do
  echo "Verify at $cores cores -> $out/c$cores"
  if ! SPARK_GRAFT_CPUS=$cores sbt -batch "runMain graft.Verify $sf $out/c$cores" \
      >"$out/verify_c$cores.log" 2>&1; then
    echo "Verify at $cores cores failed; see $out/verify_c$cores.log" >&2
    exit 1
  fi
done
python3 tools/compare_outputs.py "$out/c4" "$out/c16"
