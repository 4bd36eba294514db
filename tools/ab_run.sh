#!/bin/bash
# Alternating isolated A/B bench runs (the house protocol, r21):
#   ab_run.sh <queries-csv> <n-rounds> <out.jsonl> <cpus> <dirA> <tagA> [<dirB> <tagB>]
# Each round runs every head in order (strict alternation),
# SPARK_GRAFT_ONLY isolation, priors disabled. Raw bench lines are
# appended to out.jsonl with a head tag so medians are recomputable
# from the artifact. Single-head mode: pass only dirA/tagA.
set -u
Q="$1"; N="$2"; OUT="$3"; CPUS="$4"; shift 4
dirs=(); tags=()
while [ $# -ge 2 ]; do dirs+=("$1"); tags+=("$2"); shift 2; done
for r in $(seq 1 "$N"); do
  for k in "${!dirs[@]}"; do
    line=$(cd "${dirs[$k]}" && SPARK_GRAFT_ONLY="$Q" SPARK_GRAFT_PRIOR=/dev/null \
      SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_SF_DIR="${AB_SF_DIR:-/root/testdata/sf0.1}" \
      sbt -batch "runMain graft.Bench" 2>/dev/null | grep -o '{"metric":"total".*' | head -1)
    # sbt failed or printed no bench line: record that, not invalid JSON
    if [ -n "$line" ]; then body="\"line\":$line"
    else body='"line":null,"error":"no bench line"'; fi
    echo "{\"head\":\"${tags[$k]}\",\"run\":$r,\"cpus\":$CPUS,$body}" >> "$OUT"
    echo "run $r ${tags[$k]}: $(echo "$line" | grep -o '"queries":{[^}]*}')"
  done
done
