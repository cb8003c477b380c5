#!/usr/bin/env bash
# Snapshot gate: run before EVERY commit. A commit that fails this gate
# must not be made — round 2 lost its entire correctness/bench run to a
# single uncompiled line committed without this check.
#
# Both sbt builds run offline with the flags and environment of the
# tier-1 command in ROADMAP.md, so the gate checks what tier-1 runs.
set -euo pipefail
cd "$(dirname "$0")/.."
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Xmx4g}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
# half the machine's memory, clamped to 2-8 GB
half_mem='/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}'
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk "$half_mem" \
  </proc/meminfo 2>/dev/null || echo 2g)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
sbt_flags=(--batch -Dsbt.log.noformat=true -Dsbt.server.autostart=false
  -Dsbt.override.build.repos=true -Dsbt.offline=true)
if [ -f "$HOME/.sbt/repositories" ]; then
  sbt_flags+=("-Dsbt.repository.config=$HOME/.sbt/repositories")
fi
echo "[gate] sbt Test/compile + test ..."
sbt "${sbt_flags[@]}" Test/compile test
# the benchmark compiles src/main against its own calls into the engine
# (perfbench/build.sbt): run its build and tests too, so a signature it
# uses cannot break unnoticed
echo "[gate] perfbench: sbt test ..."
(cd perfbench && sbt "${sbt_flags[@]}" test)
echo "[gate] GREEN"
