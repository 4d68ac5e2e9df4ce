#!/bin/bash
# Snapshot floor guard (VERDICT r13 "what's wrong #2"): a round may end
# with work in progress, but NEVER with a red compile on main source —
# round 13 shipped a one-character paren error in its final snapshot
# commit and voided every gate artifact of the round.
#
# Run this before ANY end-of-round / milestone commit:
#   tools/compile_guard.sh && git commit ...
# Exit 0 = no stray session builder, thread pool, sidecar file name,
# in-flight grace check, hand-decoded hive segment or local FileSystem
# key (`fs.file.impl`, `fs.AbstractFileSystem.file.impl`) in main code,
# `sbt compile` (main + test sources) is green and the benchmark harness
# (perfbench/build.py: src/main compiled together with perfbench/src)
# builds; nonzero otherwise, with the offending lines or the tail of the
# compiler output on stderr. ~2 min warm, plus about a minute when the
# harness must rebuild — there is no excuse to skip it even when the
# full ~25-min gate battery doesn't fit before a snapshot.
set -u
cd "$(dirname "$0")/.."
# Main-code lines matching the ERE $1, comment lines (a doc example)
# dropped.
code_lines() {
  grep -rnE --include='*.scala' "$1" src/main/scala \
    | grep -Ev '^[^:]+:[0-9]+:[[:space:]]*(//|\*|/\*)'
}
# One session factory: no main code outside GraftSession.scala may call
# SparkSession.builder.
builders=$(code_lines 'SparkSession\.builder' \
  | grep -v '^src/main/scala/graft/GraftSession\.scala:')
if [ -n "$builders" ]; then
  echo "compile_guard: RED — SparkSession.builder outside GraftSession.scala:" >&2
  echo "$builders" >&2
  exit 1
fi
# One fan-out seam: driver-side concurrency goes through
# graft.Parallel.map. The only other threads main code may create are
# Scratch's single cleaner thread and JVM shutdown hooks (run at exit,
# never a fan-out).
pools=$(code_lines 'Executors\.new|new Thread\(|new ThreadPoolExecutor\(|new ForkJoinPool\(' \
  | grep -v '^src/main/scala/graft/Parallel\.scala:' \
  | grep -Ev '^src/main/scala/graft/sources/Scratch\.scala:[0-9]+:.*cleaner' \
  | grep -v 'addShutdownHook(new Thread(')
if [ -n "$pools" ]; then
  echo "compile_guard: RED — thread pool or thread outside graft.Parallel (use Parallel.map):" >&2
  echo "$pools" >&2
  exit 1
fi
# One owner for the stats sidecars: the sidecar layout (file names,
# shards, the shard rule) lives in graft/sources/FileStats.scala, and
# no other main code names a sidecar file.
sidecars=$(code_lines '"_stats|"_rows|_stats_p|_rows_p' \
  | grep -v '^src/main/scala/graft/sources/FileStats\.scala:')
if [ -n "$sidecars" ]; then
  echo "compile_guard: RED — stats sidecar file named outside FileStats.scala (go through FileStats):" >&2
  echo "$sidecars" >&2
  exit 1
fi
# One marker-age rule: the in-flight grace is named only by its
# definition and the one age helper (`pastGrace` in Warehouse.scala),
# which the snapshot sweep's marker, retention and DV-dir checks all
# go through.
graces=$(code_lines 'InflightGraceMs')
if [ "$(printf '%s' "$graces" | grep -c .)" -gt 2 ]; then
  echo "compile_guard: RED — InflightGraceMs named outside its definition and pastGrace (age checks go through pastGrace):" >&2
  echo "$graces" >&2
  exit 1
fi
# One hive-segment decoder: partition path segments are decoded only
# by `hiveSegs` in Warehouse.scala (its `HiveNull` names the hive null
# value); no other main code names the hive null or matches a
# `column=` segment by hand.
hivesegs=$(code_lines '__HIVE_DEFAULT_PARTITION__|startsWith\([^)]*\+ *"="' \
  | grep -Ev '^src/main/scala/graft/sources/Warehouse\.scala:[0-9]+: *private val HiveNull = "__HIVE_DEFAULT_PARTITION__"$')
if [ -n "$hivesegs" ]; then
  echo "compile_guard: RED — hive partition segment decoded outside Warehouse.hiveSegs (use hiveSeg/hiveSegs):" >&2
  echo "$hivesegs" >&2
  exit 1
fi
# One installer of the local FileSystem: GraftExtensions names the
# graft `file://` classes on the session's Hadoop conf (unless the conf
# names its own); no other main code sets or reads either key.
localfs=$(code_lines 'fs\.(AbstractFileSystem\.)?file\.impl' \
  | grep -v '^src/main/scala/graft/GraftExtensions\.scala:')
if [ -n "$localfs" ]; then
  echo "compile_guard: RED — local FileSystem key named outside GraftExtensions.scala (GraftExtensions installs it):" >&2
  echo "$localfs" >&2
  exit 1
fi
log=$(mktemp /tmp/compile_guard.XXXXXX.log)
if ! sbt -batch "compile; Test/compile" >"$log" 2>&1; then
  echo "compile_guard: RED — do NOT commit a snapshot on this tree" >&2
  tail -30 "$log" >&2
  echo "full log: $log" >&2
  exit 1
fi
# The benchmark compiles main code against its own sources: a main-API
# change the harness no longer compiles against fails here, not as a
# failed benchmark run.
if ! python3 perfbench/build.py >"$log" 2>&1; then
  echo "compile_guard: RED — the benchmark harness (perfbench/) does not build against this tree" >&2
  tail -30 "$log" >&2
  echo "full log: $log" >&2
  exit 1
fi
echo "compile_guard: GREEN (main + test compile, benchmark build)"
rm -f "$log"
exit 0
