#!/usr/bin/env bash
# Snapshot gate: run before EVERY commit. A commit that fails this gate
# must not be made — round 2 lost its entire correctness/bench run to a
# single uncompiled line committed without this check.
set -euo pipefail
cd "$(dirname "$0")/.."
echo "[gate] sbt Test/compile + test ..."
sbt -batch Test/compile test
# the benchmark compiles src/main against its own calls into the engine
# (perfbench/build.sbt): run its build and tests offline, with the flags
# perfbench/run.py builds with, so a signature it uses cannot break
# unnoticed
echo "[gate] perfbench: sbt test ..."
repos=()
[ -f "$HOME/.sbt/repositories" ] && \
  repos=("-Dsbt.repository.config=$HOME/.sbt/repositories")
(cd perfbench && COURSIER_MODE=offline sbt --batch -Dsbt.log.noformat=true \
  -Dsbt.server.autostart=false -Dsbt.override.build.repos=true \
  -Dsbt.offline=true "${repos[@]}" test)
echo "[gate] GREEN"
