#!/usr/bin/env bash
# Pre-snapshot preflight: refuse to commit a tree that does not compile.
#
# Round 9's snapshot commit referenced a helper whose definition was
# never added; `sbt compile` failed and the driver adjudicated ZERO
# queries that round. This gate makes that class of loss impossible:
# run it before every commit that touches src/ (and always before the
# end-of-round snapshot).
#
# Usage: tools/preflight.sh [--full]
#   default : sbt Test/compile (main + test sources)
#   --full  : also runs the CLI smoke (tools/cli_smoke.sh)
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch Test/compile 'testOnly graft.BenchGuardSpec graft.SoakGuardSpec'
# Both guard specs are Spark-free and fast; they catch the OTHER
# ship-red-at-HEAD modes — a registered query whose floor / last_run
# measurement was never committed (run `BenchGuard --update` to fix),
# and a stale or superlinear sf1 soak artifact (run
# `graft.BenchFamilies soak soak_sf2`).

if [[ "${1:-}" == "--full" ]]; then
  tools/cli_smoke.sh
  # pin the partition-less global-window allowlist (PlanAuditSpec builds
  # every query plan, ~7 min): the bench tail's "No Partition Defined"
  # warnings must be matched 1:1 by the documented bounded frames
  sbt -batch 'testOnly graft.PlanAuditSpec -- -z "partition-less"'
fi

echo "[preflight] OK"
