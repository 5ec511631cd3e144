#!/bin/bash
# Crash-recovery measurement campaign: kill the CDC stream at 5 batch
# indices x 2 crash points x 2 repeats (20 runs), sf0.1, 20 batches.
# Appends one JSON line per run to RECOVERY_CAMPAIGN.jsonl.
set -u
cd "$(dirname "$0")/.."
OUT=RECOVERY_CAMPAIGN.jsonl
: > "$OUT"
for rep in 1 2; do
  for point in pre_commit post_commit; do
    for k in 3 7 10 14 18; do
      line=$(SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
        SPARK_GRAFT_STREAM_BATCHES=20 \
        SPARK_GRAFT_STREAM_KILL_AT=$k \
        SPARK_GRAFT_STREAM_KILL_POINT=$point \
        sbt -batch "runMain graft.StreamBench" 2>/dev/null \
        | grep '"metric"' | head -1)
      echo "{\"rep\":$rep,${line#\{}" >> "$OUT"
      echo "done rep=$rep point=$point k=$k: $line"
    done
  done
done
echo CAMPAIGN_COMPLETE
