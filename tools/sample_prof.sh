#!/bin/bash
# Poor-man's sampling profiler: jstack the newest non-sbt java process's
# "main" thread every 150 ms, histogram the graft frames.
# Usage: tools/sample_prof.sh <seconds> <outfile>
SECS=${1:-30}
OUT=${2:-/tmp/prof.txt}
: > "$OUT"
END=$((SECONDS + SECS))
while [ $SECONDS -lt $END ]; do
  PID=$(jps -l 2>/dev/null | grep -E "graft\.(Explain|RunSubset|Verify|Bench)|graftbench\.Main" | awk '{print $1}' | head -1)
  if [ -n "$PID" ]; then
    jstack "$PID" 2>/dev/null | awk '/"main"/{f=1} f&&/^$/{f=0} f' >> "$OUT"
    echo "---" >> "$OUT"
  fi
  sleep 0.15
done
grep -o 'at graft\.[A-Za-z0-9.$]*' "$OUT" | sort | uniq -c | sort -rn | head -40
