#!/usr/bin/env bash
# Run a command (a test suite) and fail if it leaves temp-directory
# fixtures behind: lists the JVM temp directory's entries whose names
# start with a prefix the specs under src/test pass to
# createTempDirectory or TempDirs.tempDir, before and after the command,
# and names every entry that appeared. A failing command still gets the
# check; its own exit status wins.
#
#   tools/no_leaked_fixtures.sh sbt test
set -euo pipefail
cd "$(dirname "$0")/.."
tmp_root="$(java -XshowSettings:properties -version 2>&1 \
  | sed -n 's/^ *java\.io\.tmpdir = //p')"
tmp_root="${tmp_root:-/tmp}"
mapfile -t prefixes < <(grep -rhoE \
  '(createTempDirectory|tempDir)\("[^"]+"' src/test \
  | sed -E 's/^[^"]*"//; s/"$//' | sort -u)
fixtures() {
  local p
  for p in "${prefixes[@]}"; do
    find "$tmp_root" -maxdepth 1 -name "$p*" 2>/dev/null
  done | sort -u
}
before="$(fixtures)"
status=0
"$@" || status=$?
leaked="$(comm -13 <(echo "$before") <(fixtures))"
if [ -n "$leaked" ]; then
  echo "[leak] the suite left temp fixtures behind in $tmp_root:" >&2
  echo "$leaked" >&2
  [ "$status" -ne 0 ] || status=1
else
  echo "[leak] no temp fixture left behind (${#prefixes[@]} prefixes)"
fi
exit "$status"
