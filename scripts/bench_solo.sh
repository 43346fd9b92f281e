#!/bin/bash
# Fresh-JVM single-query bench sidecar (VERDICT r5 task 7): runs each
# named query in its OWN JVM (cold session, nothing inherited from a
# 224-query sweep) so sweep-aging noise and real plan cost are
# separable. Writes BENCH_SOLO.json {query: coldSec}.
#
# Usage: scripts/bench_solo.sh [sfDir] [q1,q2,...]
# Each entry is passed to graft.Bench as SPARK_GRAFT_ONLY, which
# selects the query of that exact name (or `<entry>_*`), so give full
# names or unique ids. SPARK_GRAFT_CPUS sets the cores (default: all).
# Default queries: the round-5 weak cluster + the heaviest stable
# sweep entries.
set -u
SF=${1:-/root/testdata/sf0.1}
QS=${2:-q19_derivative,q20_integrate,q28_interpolate,q29_resample,q146_fit_apply,q147_interpolate_quadratic,q196_rolling_beta,q211_haar_energy,q153_source_overlap,q193_isotonic_cal}
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OUT="BENCH_SOLO.json"
TMPD=$(mktemp -d)
echo -n '{' > "$OUT.tmp"
first=1
for q in ${QS//,/ }; do
  # repeat=1: the whole point is the COLD fresh-JVM time (warmup query
  # still runs first inside Bench, so codegen/JIT of Spark itself is
  # excluded; only this query's first execution is measured)
  (cd "$TMPD" && SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_ONLY="$q" SPARK_GRAFT_REPEAT=1 \
    java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-24g} \
      -Dspark.ui.enabled=false \
      -cp "$OLDPWD/$CP" graft.Bench > solo_out.txt 2> solo_err.txt)
  t=$(python3 -c "
import json,sys
try:
  line=[l for l in open('$TMPD/solo_out.txt') if l.startswith('{')][-1]
  d=json.loads(line); print(list(d['queries'].values())[0])
except Exception as e:
  print(-1)
")
  echo "solo $q: ${t}s" >&2
  [ $first -eq 0 ] && echo -n ',' >> "$OUT.tmp"
  first=0
  echo -n "\"$q\":$t" >> "$OUT.tmp"
done
echo "}" >> "$OUT.tmp"
mv "$OUT.tmp" "$OUT"
rm -rf "$TMPD"
echo "wrote $OUT" >&2
cat "$OUT"
