#!/usr/bin/env bash
# Build file of the benchmark package. Run from the repository root:
#   bash perfbench/build.sh <build-dir>
# 1. Builds the engine with the repo's own sbt build, offline, and records
#    its runtime classpath in <build-dir>/engine.classpath.
# 2. Compiles perfbench/scala/*.scala against that classpath with the
#    Scala compiler the classpath already carries, into <build-dir>/classes.
# All build output goes to <build-dir>/build.log, never to stdout.
set -euo pipefail
out=${1:?usage: perfbench/build.sh <build-dir>}
mkdir -p "$out"
log="$out/build.log"
: > "$log"

export COURSIER_MODE=offline
opts="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
if [ -f "$HOME/.sbt/repositories" ]; then
  opts="$opts -Dsbt.repository.config=$HOME/.sbt/repositories"
fi
export SBT_OPTS="$opts"

if ! sbt --batch -Dsbt.log.noformat=true compile "export Runtime/fullClasspath" >> "$log" 2>&1; then
  tail -n 40 "$log" >&2
  exit 1
fi
# `export` prints the classpath as the one unprefixed line naming the
# engine's classes directory
cp_line=$(grep -v '^\[' "$log" | grep 'scala-2.13/classes' | tail -n 1 || true)
if [ -z "$cp_line" ]; then
  echo "build: sbt printed no runtime classpath (see $log)" >&2
  exit 1
fi
printf '%s\n' "$cp_line" > "$out/engine.classpath"

compiler_cp=$(printf '%s' "$cp_line" | tr ':' '\n' \
  | grep -E '/scala-(compiler|library|reflect)-2\.13[^/]*\.jar$' | paste -sd: -)
if [ -z "$compiler_cp" ]; then
  echo "build: no scala-compiler jar on the engine classpath" >&2
  exit 1
fi
rm -rf "$out/classes"
mkdir -p "$out/classes"
if ! java -cp "$compiler_cp" scala.tools.nsc.Main -deprecation -feature \
    -d "$out/classes" -cp "$cp_line" perfbench/scala/*.scala >> "$log" 2>&1; then
  tail -n 40 "$log" >&2
  exit 1
fi
