#!/usr/bin/env bash
# One-command reproduction of the full verification + measurement
# protocol (everything BASELINE.md cites). Total runtime ~2-2.5h on
# local[32]; each step prints its own artifact.
#
#   bash tools/verify_all.sh [--quick]
#
# --quick: unit tests + the sf0.01 oracle gate + bench only (~25 min).
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/15 unit + property tests =="
python -m pytest tests/ -q

echo "== 2/15 oracle gate + driver canonicalization, sf0.01 (the driver's rung) =="
python tools/check.py /root/testdata/sf0.01

echo "== 3/15 bench (sf0.1 headline suite) =="
python bench.py

if [[ "${1:-}" == "--quick" ]]; then
    echo "quick mode: done."
    exit 0
fi

echo "== 4/15 oracle gates, sf0.001 + sf0.1 =="
python tools/check.py /root/testdata/sf0.001
python tools/check.py /root/testdata/sf0.1

echo "== 5/15 single-partition-window audit (exit 1 on any ROW-SCALE) =="
python tools/window_audit.py /root/testdata/sf0.01

echo "== 6/15 local scale rungs (generate if missing) =="
for sf in 0.1 1 3; do
    [[ -d "localdata/sf${sf}" ]] || python tools/gen_testdata.py "${sf}"
done
python tools/scaling.py --bench

echo "== 7/15 warehouse soak (sf0.1) =="
python tools/soak.py /root/testdata/sf0.1 10

echo "== 8/15 streaming throughput =="
python tools/stream_bench.py 500000 5

echo "== 9/15 serving load test (idle) =="
python tools/loadtest.py

echo "== 10/15 serving under concurrent refresh (r7 contracts) =="
python tools/loadtest_concurrent.py /root/testdata/sf0.1 4 10

echo "== 11/15 foreachBatch per-batch flatness (sf10 rung if present) =="
if [[ -d localdata/sf10 ]]; then
    python tools/stream_fuzz.py localdata/sf10
else
    python tools/stream_fuzz.py localdata/sf1
fi

echo "== 12/15 long-horizon stream fuzz: 20 batches, index -> 19x batch size (r9) =="
if [[ -d localdata/sf10 ]]; then
    python tools/stream_fuzz.py --batches=20 localdata/sf10 \
        stream_span_scrub stream_span_scrub_bucketed stream_incremental_dedup
fi

echo "== 13/15 BPE depth curve: k=16, per-iteration walls (r8) =="
python tools/bpe_depth.py localdata/sf3 16

echo "== 14/15 serving soak at sf1, 3x cycles (r8 contracts) =="
if [[ -d localdata/sf1 ]]; then
    python tools/loadtest_concurrent.py localdata/sf1 4 30
fi

echo "== 14b/15 export kill/resume at sf10 (r9) =="
if [[ -d localdata/sf10 ]]; then
    python tools/export_resume.py localdata/sf10 4
fi

echo "== 14b2/15 plain-dedup crash/compaction-fold kill-resume at sf10 (r11) =="
if [[ -d localdata/sf10 ]]; then
    python tools/stream_resume.py --arm plain localdata/sf10 12 6
fi

echo "== 14b3/15 40-batch compaction value identity at sf10 (r11) =="
if [[ -d localdata/sf10 ]]; then
    python tools/stream_value_identity.py localdata/sf10 40
fi

echo "== 14c/15 skewed-corpus dedup guards (r9) =="
if [[ -d localdata/sf1 ]]; then
    [[ -d localdata/zipf_sf1 ]] || python tools/gen_testdata.py 1 --zipf
    python tools/zipf_compare.py
fi

echo "== 15/15 sf30 heavy-tier ladder (opt-in: SPARK_GRAFT_VERIFY_SF30=1) =="
if [[ "${SPARK_GRAFT_VERIFY_SF30:-}" == "1" ]]; then
    [[ -d localdata/sf10 ]] || python tools/gen_testdata.py 10
    [[ -d localdata/sf30 ]] || python tools/gen_testdata.py 30
    SPARK_GRAFT_SCALING_FRESH=1 SPARK_GRAFT_SCALING_RUNGS=local_sf10,local_sf30 \
    python tools/scaling.py corpus_drop_ledger pipeline_corpus_export \
        graph_kcore_peel mm_hamming_dedup ml_bpe_train_merges \
        ml_bpe_train_merges_deep stream_span_scrub stream_span_scrub_bucketed \
        dedup_prefix_filter_pairs_capped pipeline_corpus_export_landed \
        corpus_span_scrub
else
    echo "skipped (set SPARK_GRAFT_VERIFY_SF30=1; ~8 GB disk + ~40 min)"
fi

echo "all verification stages complete."
