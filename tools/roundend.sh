#!/usr/bin/env bash
# Round-end gate: everything that must be green before a round's final
# commit. Run from the repo root. Driver-side tooling only.
#
#   1. unit + property + plan-guard specs
#   2. full Verify dump at sf0.01 + DuckDB oracle compare (the driver's gate),
#      then the queries behind the driver-loop gates again with
#      SPARK_GRAFT_DRIVER_GATE=off, so their distributed branches meet the
#      oracle too (at sf0.01 every one of them takes its driver branch)
#   3. MicroBench warm-median perf gate vs the committed MICROBENCH.json
#      (>1.3x warm regression on any tracked query fails; pass --update
#      via UPDATE_PERF=1 to refresh the artifact after it passes)
#   4. repo benchmark smoke: short untraced hicp_series and corpus_ingest
#      runs, each also with SPARK_GRAFT_DRIVER_GATE=off, and one analytics_mix
#      run, whose per-op checks and end-of-run delta identity must all pass
#      ("correct": true) —
#      catches a wrong small-input fast path, and a broken distributed
#      branch behind it (silver's global sort, the one-action quality gate
#      and the streamed JDBC load on hicp_series)
#   5. driver-artifact hygiene: every BENCH_*/CORRECTNESS_*/LEAKCHECK/
#      COPYCHECK/MICROBENCH artifact must be committed (untracked round
#      artifacts were an r12 AND r13 verdict item — this makes it a gate)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 0/5 testdata mtime stamp =="
# A mid-round driver regeneration of /root/testdata once invalidated a green
# sbt-test run silently (a spec's fixture guard). Record the
# newest parquet mtime in the gate log and in a tracked stamp file, so any
# regeneration is loud here and visible in git history; the full sbt test
# in step 1 then re-validates against the regenerated corpus.
stamp="$(find /root/testdata -name '*.parquet' -printf '%T@ %p\n' | sort -n | tail -1)"
echo "newest testdata parquet: $stamp"
if [[ -f .testdata_stamp ]] && [[ "$(cat .testdata_stamp)" != "$stamp" ]]; then
  echo "NOTE: /root/testdata CHANGED since the last gate run:"
  echo "  was: $(cat .testdata_stamp)"
  echo "  now: $stamp"
fi
echo "$stamp" > .testdata_stamp

echo "== 1/5 sbt test =="
sbt -batch test

echo "== 2/5 correctness gate (sf0.01) =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/roundend_verify"
python3 tools/selfcheck.py /tmp/roundend_verify /root/testdata/sf0.01
# every registry query that reaches an Exec.DriverLoopRows gate
gated=dedup_clusters,dedup_keep_best,graph_betweenness,graph_bfs_layers
gated+=,graph_coreness,graph_hits,graph_hyperball,graph_kcore,graph_ktruss
gated+=,graph_pagerank,graph_ppr,graph_random_walks,graph_scc
gated+=,ts_binseg_changepoints,ts_pacf,txt_textrank_keywords,vec_mmr_rerank
gated+=,vec_pipeline_e2e
rm -rf /tmp/roundend_verify_off
SPARK_GRAFT_DRIVER_GATE=off sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 /tmp/roundend_verify_off $gated"
python3 tools/selfcheck.py /tmp/roundend_verify_off /root/testdata/sf0.01 "$gated"

echo "== 3/5 perf gate (warm medians, sf0.1) =="
if [[ "${UPDATE_PERF:-0}" == "1" ]]; then
  sbt -batch "runMain graft.MicroBench --gate --update"
else
  sbt -batch "runMain graft.MicroBench --gate"
fi

echo "== 4/5 benchmark smoke (hicp_series and corpus_ingest through both branches, analytics_mix) =="
smoke() {  # smoke <label> <workload> [ENV=VALUE ...]: the run must be correct
  local label="$1" workload="$2"; shift 2
  local bench
  bench="$(env "$@" python3 perfbench/run.py --workload "$workload" --seed 1 --seconds 4 --trace 0 | tail -1)"
  echo "$label: $bench"
  if ! python3 -c 'import json, sys; sys.exit(0 if json.loads(sys.argv[1]).get("correct") is True else 1)' "$bench"; then
    echo "$label benchmark run is not correct"
    exit 1
  fi
}
smoke hicp_series hicp_series
smoke "hicp_series (SPARK_GRAFT_DRIVER_GATE=off)" hicp_series SPARK_GRAFT_DRIVER_GATE=off
smoke corpus_ingest corpus_ingest
smoke "corpus_ingest (SPARK_GRAFT_DRIVER_GATE=off)" corpus_ingest SPARK_GRAFT_DRIVER_GATE=off
smoke analytics_mix analytics_mix

echo "== 5/5 driver-artifact hygiene =="
dirty="$(git status --porcelain -- 'BENCH_*.json' 'CORRECTNESS_*.json' \
  'LEAKCHECK.json' 'COPYCHECK.json' 'MICROBENCH.json' 'BASELINE.md' \
  'PROGRESS.jsonl')"
if [[ -n "$dirty" ]]; then
  echo "untracked/modified driver artifacts — commit them before round end:"
  echo "$dirty"
  exit 1
fi

echo "round-end gate: ALL GREEN"
