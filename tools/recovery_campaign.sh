#!/bin/bash
# Crash-recovery measurement campaign: kill the CDC stream at 5 batch
# indices x 2 crash points x 2 repeats (20 runs), sf0.1, 20 batches.
# Appends one JSON line per run to RECOVERY_CAMPAIGN.jsonl and keeps
# each run's full output (stdout and stderr) under recovery_campaign_logs/.
# A run that fails or prints no "metric" line stops the campaign with a
# non-zero exit naming the run (rep, point, k) and its log.
set -u
cd "$(dirname "$0")/.."
OUT=RECOVERY_CAMPAIGN.jsonl
LOGS=recovery_campaign_logs
mkdir -p "$LOGS"
: > "$OUT"
for rep in 1 2; do
  for point in pre_commit post_commit; do
    for k in 3 7 10 14 18; do
      log="$LOGS/rep${rep}_${point}_k${k}.log"
      SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
        SPARK_GRAFT_STREAM_BATCHES=20 \
        SPARK_GRAFT_STREAM_KILL_AT=$k \
        SPARK_GRAFT_STREAM_KILL_POINT=$point \
        sbt -batch "runMain graft.StreamBench" > "$log" 2>&1
      status=$?
      line=$(grep '"metric"' "$log" | head -1)
      if [ "$status" -ne 0 ] || [ -z "$line" ]; then
        echo "recovery_campaign: run rep=$rep point=$point k=$k failed" \
          "(exit $status, metric line: ${line:-none}); its log is $log" >&2
        exit 1
      fi
      echo "{\"rep\":$rep,${line#\{}" >> "$OUT"
      echo "done rep=$rep point=$point k=$k: $line"
    done
  done
done
echo CAMPAIGN_COMPLETE
