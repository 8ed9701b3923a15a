#!/bin/bash
# Poor-man's sampling profiler: jstack the "main" thread of a running graft
# JVM (graft.Explain/Verify/Bench, or perfbench's graftbench.Main) every
# 150 ms and histogram the graft frames.
# The JVM is found with pgrep, not jps: perfbench starts it with
# -XX:-UsePerfData, which hides it from jps. The pattern is anchored on the
# java executable so that it does not match a wrapper shell. Under
# `sbt runMain` it matches sbt's own JVM, which forks the program as a java
# child with an @argfile command line; the child is sampled then.
# Sampling perturbs the run: jstack at about 2.5 Hz pauses the JVM at each
# safepoint; a dedup_ingest admission's p50 rose from 1.7 s to 2.17 s while
# it sampled. Do not read timings from a sampled run.
# Usage: tools/sample_prof.sh <seconds> <outfile>
SECS=${1:-30}
OUT=${2:-/tmp/prof.txt}
: > "$OUT"
END=$((SECONDS + SECS))
while [ $SECONDS -lt $END ]; do
  PID=$(pgrep -n -f '^[^ ]*java .*(graft[.](Explain|Verify|Bench)|graftbench[.]Main)')
  if [ -n "$PID" ]; then
    CHILD=$(pgrep -n -P "$PID" java) && PID=$CHILD
    jstack "$PID" 2>/dev/null | awk '/"main"/{f=1} f&&/^$/{f=0} f' >> "$OUT"
    echo "---" >> "$OUT"
  fi
  sleep 0.15
done
grep -o 'at graft\.[A-Za-z0-9.$]*' "$OUT" | sort | uniq -c | sort -rn | head -40
