#!/bin/bash
# Fast runner for graft mains without sbt startup overhead.
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.001 /tmp/verify_out
set -e
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
# Default heap 24g: local[32] gives each of the 32 executor threads its
# share of ONE JVM heap — at 8g (256 MB/core) the 19M-edge ScaleCurve
# octaves ran at the OOM edge (GCLocker retry storms, flaky heap
# exhaustion in the truss wedge joins). 24g is still <20% of the host.
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-24g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
