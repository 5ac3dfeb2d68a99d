#!/bin/bash
# Compile once with sbt, then run graft.Verify directly with java (fast loop).
# Usage: tools/run_verify.sh [SF_DIR] [OUT_DIR]; builds and checks the
# checkout this script sits in.
set -e
SF_DIR=${1:-/root/testdata/sf0.01}
OUT_DIR=${2:-/tmp/verify_out}
REPO=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
cd "$REPO"
sbt -batch compile 1>&2
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
SCALA_LIB=$(ls "$HOME"/.sbt/boot/scala-2.13.*/lib/scala-library.jar 2>/dev/null | head -1)
[ -z "$SCALA_LIB" ] && SCALA_LIB=$(find "$HOME/.cache/coursier" -name 'scala-library-2.13*.jar' 2>/dev/null | head -1)
rm -rf "$OUT_DIR"
java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:$SCALA_LIB:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT_DIR" 1>&2
python3 "$REPO/tools/check_oracle.py" "$SF_DIR" "$OUT_DIR"
