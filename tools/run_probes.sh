#!/bin/bash
# Per-round probe smoke (VERDICT r9 stretch 7): re-validates the scale
# assertions continuously — the candidate-mass bound (graft.FanIn asserts
# q24's default blocking stays under 50M pairs and prints every
# blocking-key fan-in table, including the k-means|| C=256/C=1024
# training rows with the bounded-collect cap live) and the relational
# scaling factor (graft.RelScale prints t(1x) vs t(Nx) per headline
# query; a factor far above the multiplier flags a shape that would not
# survive the next 100x). Runs at reduced multipliers (~1-2 min total)
# vs the ~15 min full pass recorded in FANIN.md:
#
#   tools/run_probes.sh [fanin_mult] [rel_mult]   # defaults 10, 2
#   FANIN_MULT=100 ... graft.FanIn                # the full-scale pass
#
# FANIN_E2E=0 skips FanIn's end-to-end query timings (they re-measure
# what Bench already tracks per round); the fan-in tables, the 50M
# assert, and the training-cost rows all run before that switch.
set -e
cd "$(dirname "$0")/.."
FMULT=${1:-10}
RMULT=${2:-2}
sbt -batch compile 1>&2
. tools/java_env.sh
echo "== graft.FanIn x$FMULT (e2e off) =="
FANIN_MULT="$FMULT" FANIN_E2E=0 SPARK_GRAFT_CPUS=16 \
  java $OPENS -Xmx8g -Dspark.ui.enabled=false -cp "$CP" graft.FanIn
echo "== graft.RelScale x$RMULT =="
REL_MULT="$RMULT" SPARK_GRAFT_CPUS=16 \
  java $OPENS -Xmx8g -Dspark.ui.enabled=false -cp "$CP" graft.RelScale
