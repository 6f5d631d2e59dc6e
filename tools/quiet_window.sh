#!/bin/bash
# Quiet-window artifact cutter for one round. Phase gating: wait for host
# load1 below threshold BEFORE each phase, retry up to 3x if the
# end-of-phase load shows co-tenant pollution. Two rules:
#   KEEP-BEST, NOT KEEP-LAST — every attempt lands in a tmp file and the
#   kept artifact is the BEST attempt (lowest oracle total / lowest bench
#   total: pollution only ever inflates, so lowest == cleanest), never
#   whichever attempt happened to run last: a polluted late attempt can
#   never shadow a clean early one.
#   ORACLE BEFORE BENCH — graft.Bench stamps the oracle file's
#   total+mtime+sha into its own line at emit time, so the pairing in
#   BENCH_quiet_<round>.json is self-consistent by construction.
#   tools/quiet_window.sh <round> [threshold] [phases]
# round: artifact tag, e.g. r21 (writes QUIET_WINDOW_r21.log,
# BENCH_quiet_r21.json, ...)
# phases: comma list of oracle,bench,bench8,growth,asof (default bench)
set -u
if [ $# -lt 1 ]; then
  echo "usage: tools/quiet_window.sh <round> [threshold] [phases]" >&2
  exit 2
fi
ROUND=$1
THRESH=${2:-1.0}
PHASES=${3:-bench}
LOG=QUIET_WINDOW_$ROUND.log
SQL=/tmp/gv_full_$ROUND/oracle_sql.json

load1() { cut -d' ' -f1 /proc/loadavg; }
stamp() { echo "[$(date +%H:%M:%S) load=$(load1)] $*" | tee -a "$LOG"; }

wait_quiet() {
  while :; do
    L=$(load1)
    awk -v l="$L" -v t="$THRESH" 'BEGIN{exit !(l<t)}' && break
    sleep 60
  done
}

# json_num <file> <key>: first numeric value of key, or empty
json_num() {
  python3 - "$1" "$2" <<'EOF'
import json,sys
try:
    d=json.load(open(sys.argv[1]))
    v=d.get(sys.argv[2])
    print("" if v is None else v)
except Exception:
    print("")
EOF
}

# keep_best <candidate> <kept> <key>: install candidate over kept iff kept
# is missing/unparseable or candidate's <key> is LOWER (pollution only
# inflates, so lower == cleaner). Echoes the kept file's value.
keep_best() {
  CAND=$1; KEPT=$2; KEY=$3
  CV=$(json_num "$CAND" "$KEY"); KV=$(json_num "$KEPT" "$KEY")
  if [ -z "$CV" ]; then
    stamp "attempt unparseable ($CAND) — discarded"
  elif [ -z "$KV" ] || awk -v c="$CV" -v k="$KV" 'BEGIN{exit !(c<k)}'; then
    cp "$CAND" "$KEPT"
    stamp "kept attempt ($KEY=$CV < ${KV:-none})"
  else
    stamp "attempt worse ($KEY=$CV >= $KV) — kept existing"
  fi
}

# run_phase NAME MAXEND CMD... : up to 3 attempts; CMD writes its artifact
# to $ATTEMPT_OUT; after each attempt keep_best folds it into the phase's
# kept artifact. A clean end-load stops early; otherwise all 3 attempts
# run and the best survives.
run_phase() {
  NAME=$1; MAXEND=$2; KEPT=$3; KEY=$4; shift 4
  # a pre-existing kept artifact (e.g. the previous round's oracle) is
  # from a DIFFERENT code/registry state — its numbers must not compete
  # with this phase's attempts. Park it; restore ONLY if every attempt
  # of this phase failed to produce a parseable artifact.
  if [ -f "$KEPT" ]; then mv "$KEPT" "$KEPT.prev"; fi
  for ATTEMPT in 1 2 3; do
    stamp "waiting for quiet before $NAME (attempt $ATTEMPT)"
    wait_quiet
    STARTL=$(load1)
    stamp "$NAME attempt $ATTEMPT starting (load $STARTL)"
    ATTEMPT_OUT=$(mktemp "/tmp/qw_${ROUND}_XXXX.json")
    export ATTEMPT_OUT
    "$@"
    ENDL=$(load1)
    keep_best "$ATTEMPT_OUT" "$KEPT" "$KEY"
    rm -f "$ATTEMPT_OUT"
    if awk -v l="$ENDL" -v t="$MAXEND" 'BEGIN{exit !(l<t)}' && [ -f "$KEPT" ]; then
      stamp "$NAME attempt $ATTEMPT clean (end load $ENDL) — done"
      rm -f "$KEPT.prev"
      return 0
    fi
    stamp "$NAME attempt $ATTEMPT end load $ENDL >= $MAXEND (or no artifact) — will retry"
  done
  if [ -f "$KEPT" ]; then
    stamp "$NAME exhausted 3 attempts — kept the BEST attempt (not the last)"
    rm -f "$KEPT.prev"
  elif [ -f "$KEPT.prev" ]; then
    mv "$KEPT.prev" "$KEPT"
    stamp "$NAME produced NO parseable attempt — restored the previous artifact"
  fi
}

phase_oracle() {
  python3 tools/oracle_bench.py /root/testdata/sf0.1 "$SQL" "$ATTEMPT_OUT" \
    >> "$LOG" 2>&1
}

phase_bench() {
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch 'runMain graft.Bench' \
    2>&1 | grep '"metric"' | sed 's/^\[info\] //' > "$ATTEMPT_OUT"
}

# bench8: the same full-registry bench at 8 cores — the committed 8c/32c
# pair makes core-sensitivity regressions visible in the repo's own
# evidence.
phase_bench8() {
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=8 \
    sbt -batch 'runMain graft.Bench' \
    2>&1 | grep '"metric"' | sed 's/^\[info\] //' > "$ATTEMPT_OUT"
}

# growth: the round's gate subset at each SF (bench subset protocol —
# "only" + "subset_sum", no total/ratio). Subset runs have no "value";
# keep-best keys on subset_sum.
GROWTH_GATES=${GROWTH_GATES:-q244_curation_pipeline,q250_winnowing}
phase_growth_sf01() {
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_ONLY=$GROWTH_GATES \
    sbt -batch 'runMain graft.Bench' \
    2>&1 | grep '"metric"' | sed 's/^\[info\] //' > "$ATTEMPT_OUT"
}
phase_growth_sf1() {
  SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_ONLY=$GROWTH_GATES \
    sbt -batch 'runMain graft.Bench' \
    2>&1 | grep '"metric"' | sed 's/^\[info\] //' > "$ATTEMPT_OUT"
}

# asof: AsOfStream.enrichPrior throughput/state lines at 1x and 10x
# event volume — graft.tools.AsOfThroughput emits one JSON line per
# volume; keep-best keys on total wall seconds.
phase_asof() {
  sbt -batch 'runMain graft.tools.AsOfThroughput' \
    2>&1 | grep '"metric"' | sed 's/^\[info\] //' > "$ATTEMPT_OUT"
}

# End-load bounds: a saturating local[32] phase ends at load1 5-17 BY
# ITSELF; the bound only catches co-tenant storms.
case ",$PHASES," in *,oracle,*)
  run_phase oracle 6.0 ORACLE_BENCH.json total_s phase_oracle ;; esac
case ",$PHASES," in *,bench,*)
  run_phase bench 6.0 "BENCH_quiet_$ROUND.json" value phase_bench ;; esac
case ",$PHASES," in *,bench8,*)
  run_phase bench8 4.0 "BENCH_quiet8_$ROUND.json" value phase_bench8 ;; esac
case ",$PHASES," in *,growth,*)
  run_phase growth_sf01 6.0  "GROWTH_sf01_$ROUND.json" subset_sum phase_growth_sf01
  run_phase growth_sf1  18.0 "GROWTH_sf1_$ROUND.json"  subset_sum phase_growth_sf1 ;; esac
case ",$PHASES," in *,asof,*)
  run_phase asof 8.0 "ASOF_THROUGHPUT_$ROUND.json" total_s phase_asof ;; esac

stamp "all phases complete"
