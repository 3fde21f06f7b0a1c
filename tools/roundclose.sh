#!/usr/bin/env bash
# Round-close artifact regeneration (round-11 verdict stretch item 8):
# ONE documented command reproduces every committed measurement artifact
# so they cannot drift apart. Takes ~1.5 h end-to-end (matrix dominates).
#
#   tools/roundclose.sh <round-number>        e.g. tools/roundclose.sh 12
#
# Produces, in dependency order:
#   1. BENCH_r<N>_local.json   isolated bench snapshot (sf0.1, local[nproc])
#   2. SCALING.json            3-SF scaling sweep (gated tier) — reads
#      + SCALING_SUB.json      snapshot (1) via BenchFiles.latestWarm, so
#                              order matters; the SUB tier profiles every
#                              remaining registered query (1 cold + 1 warm
#                              per SF), so registry-new sub-bar ops get
#                              their standing 3-SF profile automatically
#                              (round-12 verdict item 2)
#   3. PLANS.md                formatted-explain audits (sf0.001)
#   4. CATALOG.md              registry-derived coverage catalog
#   5. CORRECTNESS_MATRIX.json cross-SF verify+oracle matrix (~45 min)
#   6. sbt test                the full gate suite against 1-5
#
# LEAKCHECK.json / COPYCHECK.json are produced by the DRIVER per round,
# not here. The driver's BENCH_r<N>.json wrapper is also driver-owned.
set -euo pipefail
cd /root/repo

N="${1:?usage: tools/roundclose.sh <round-number>}"
N2=$(printf "%02d" "$N")

echo "== 0/6 leak/stub sanity greps (fast pre-driver check; the driver"
echo "   owns the real LEAKCHECK/COPYCHECK artifacts — round-13 verdict"
echo "   stretch item 8: a round that introduces a hit should learn it"
echo "   at close time, not at judging) =="
# stubs / unfinished markers in shipped code
if grep -rnE '\?\?\?|TODO|FIXME' src/main --include='*.scala'; then
  echo "FAIL: stub/TODO markers in src/main" >&2; exit 1
fi
# non-public endpoints / buckets / internal-looking hosts or env vars
if grep -rniE 's3://|gs://|wasbs?://|abfss?://|[a-z0-9-]+\.corp\.|\.internal[^a-z]|amazonaws\.com|googleapis\.com' \
     src --include='*.scala'; then
  echo "FAIL: endpoint/bucket-like strings in src" >&2; exit 1
fi
echo "leak/stub greps clean"

echo "== 0b/6 fast correctness gate (sf0.001 full-registry verify +"
echo "   oracle) + fixture margins — catches a broken query or a"
echo "   borderline staged pair ~40 min before the matrix would"
echo "   (round-14 verdict item 8 / ADVICE r14) =="
sbt -batch compile
rm -rf target/verify-fastgate
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /root/repo/target/verify-fastgate"
# check.py exits nonzero on any mismatch (set -e aborts the close)
python3 tools/check.py /root/testdata/sf0.001 target/verify-fastgate \
  | tail -3
for sf in sf0.001 sf0.01 sf0.1; do
  java -cp 'target/scala-2.13/classes:/opt/spark/jars/*' \
    graft.tools.MarginCheck "/root/testdata/$sf"
done

echo "== 1/6 isolated bench snapshot (sf0.1, local[$(nproc)]) =="
# Bare-java, NOT sbt runMain: round 14 measured the same HEAD twice —
# sbt-forked bench 368.4 s warm vs bare-java 319.9 s on the identical
# shared set (+15% phantom drift from the sbt parent JVM's residency/
# GC next to the forked benchmark). The r13 "host drift" reads were
# largely THIS. Compile first so classes match HEAD.
sbt -batch compile
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$(nproc)" \
  java -cp 'target/scala-2.13/classes:/opt/spark/jars/*' graft.Bench
cp target/bench.json "BENCH_r${N2}_local.json"
echo "wrote BENCH_r${N2}_local.json"

echo "== 2/6 scaling sweep (3 SFs, one JVM) =="
# bare-java for the same reason as step 1 (sbt parent-JVM residency
# inflates the forked child's absolute numbers ~15%; round 15 moves the
# sweep onto the same harness as the bench so its slot absolutes are
# comparable)
SPARK_GRAFT_CPUS="$(nproc)" java -cp 'target/scala-2.13/classes:/opt/spark/jars/*' \
  graft.tools.Scaling

echo "== 3/6 PLANS.md =="
sbt -batch "runMain graft.tools.Plans"

echo "== 4/6 CATALOG.md =="
sbt -batch "Test/runMain graft.CatalogGen"

echo "== 5/6 cross-SF correctness matrix =="
python3 tools/matrix.py

echo "== 6/6 full gate suite =="
sbt -batch test

echo "round-close artifacts regenerated; review git diff, then commit."
