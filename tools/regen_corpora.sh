#!/usr/bin/env bash
# Regenerate every scaled corpus from the repo alone. All builders are
# DETERMINISTIC functions of the base testdata: key-shifted union growth
# with fixed per-copy tags/offsets (no RNG — see ScaleProbe's scaladoc for
# the growth-model rationale), so a fresh machine rebuilds byte-identical
# inputs.
#
#   10x  (sf1 scale)   /tmp/graft_scale10x    graft.ScaleProbe, factor 10
#   100x (sf10 scale)  /tmp/graft_scale100x   graft.ScaleProbe, factor 100
#   skew (hot-key)     /tmp/graft_skew10x     graft.SkewProbe over the 10x
#
# Each builder writes a _GRAFT_SCALE_OK / _GRAFT_SKEW_OK sentinel naming
# what it built (factor and base) and reuses a dir only when that record
# matches the request; any other dir is rebuilt. Delete the sentinel (or
# the dir) to force a rebuild.
#
# Usage: tools/regen_corpora.sh [baseDir]   (default: the sf0.1 testdata)
set -euo pipefail
cd "$(dirname "$0")/.."
BASE=${1:-/root/testdata/sf0.1}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}

echo "== 10x, 100x and skew corpora from $BASE =="
sbt -batch \
  "runMain graft.ScaleProbe $BASE /tmp/graft_scale10x 10" \
  "runMain graft.ScaleProbe $BASE /tmp/graft_scale100x 100" \
  "runMain graft.SkewProbe /tmp/graft_scale10x /tmp/graft_skew10x"
