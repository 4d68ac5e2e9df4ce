#!/bin/bash
# Snapshot floor guard (VERDICT r13 "what's wrong #2"): a round may end
# with work in progress, but NEVER with a red compile on main source —
# round 13 shipped a one-character paren error in its final snapshot
# commit and voided every gate artifact of the round.
#
# Run this before ANY end-of-round / milestone commit:
#   tools/compile_guard.sh && git commit ...
# Exit 0 = no stray session builder in main code and `sbt compile`
# (main + test sources) is green; nonzero otherwise, with the offending
# lines or the tail of the compiler output on stderr. ~2 min
# warm — there is no excuse to skip it even when the full ~25-min gate
# battery doesn't fit before a snapshot.
set -u
cd "$(dirname "$0")/.."
# One session factory: no main code outside GraftSession.scala may call
# SparkSession.builder. Comment lines (a doc example) are exempt.
builders=$(grep -rn --include='*.scala' 'SparkSession\.builder' src/main/scala \
  | grep -v '^src/main/scala/graft/GraftSession\.scala:' \
  | grep -Ev '^[^:]+:[0-9]+:[[:space:]]*(//|\*|/\*)')
if [ -n "$builders" ]; then
  echo "compile_guard: RED — SparkSession.builder outside GraftSession.scala:" >&2
  echo "$builders" >&2
  exit 1
fi
log=$(mktemp /tmp/compile_guard.XXXXXX.log)
if sbt -batch "compile; Test/compile" >"$log" 2>&1; then
  echo "compile_guard: GREEN (main + test compile)"
  rm -f "$log"
  exit 0
else
  echo "compile_guard: RED — do NOT commit a snapshot on this tree" >&2
  tail -30 "$log" >&2
  echo "full log: $log" >&2
  exit 1
fi
