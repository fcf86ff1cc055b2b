#!/usr/bin/env bash
# Pre-snapshot gate: refuse any commit whose tree does not compile.
#
# Round 4 shipped a snapshot with a missing import; the driver's build
# failed and the whole round's correctness/bench boards came back empty.
# This script makes that failure mode structural: run it before every
# end-of-round (or any) commit. It compiles BOTH main and test sources —
# `sbt Test/compile` is ~10 s warm — and exits non-zero on any error,
# so `tools/precommit.sh && git commit ...` can never snapshot a broken
# tree. Pass `--test` to also run the full suite.
set -euo pipefail
cd "$(dirname "$0")/.."

# One engine session: graft.Engine is the only session builder in src/main,
# so every main runs under the same optimizer rules and confs.
if builders=$(grep -rn "SparkSession.builder" src/main \
    | grep -v "^src/main/scala/graft/Engine.scala:"); then
  echo "precommit: SparkSession.builder outside graft.Engine:" >&2
  echo "$builders" >&2
  exit 1
fi

# Harness failures stay visible: no handler in src/main may swallow fatal
# errors; catch NonFatal and report the class and message.
if throwables=$(grep -rn "case _: Throwable" src/main); then
  echo "precommit: catch-all Throwable handler in src/main:" >&2
  echo "$throwables" >&2
  exit 1
fi

if ! sbt -batch Test/compile >/tmp/precommit.log 2>&1; then
  echo "precommit: COMPILE FAILED — refusing snapshot" >&2
  grep -E "\[error\]" /tmp/precommit.log | head -20 >&2
  exit 1
fi
echo "precommit: compile OK"

if [[ "${1:-}" == "--test" ]]; then
  if ! sbt -batch test >/tmp/precommit.log 2>&1; then
    echo "precommit: TESTS FAILED — refusing snapshot" >&2
    grep -E "\[error\]|\*\*\* FAILED" /tmp/precommit.log | head -20 >&2
    exit 1
  fi
  echo "precommit: tests OK"
fi
