#!/usr/bin/env bash
# One-shot validation: everything the round is graded on, in order.
set -e
cd "$(dirname "$0")/.."

echo '== 1. test suite (parity + spark e2e + fuzz) =='
python3 -m pytest tests/ -q

echo '== 2. driver contract vs DuckDB oracles (sf0.01) =='
python3 scripts/check_contract.py /root/testdata/sf0.01

echo '== 3. physical plan properties =='
python3 scripts/explain_plans.py

echo '== 4. bench (one JSON line) =='
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" python3 bench.py

echo '== 5. scaling evidence: local[nproc/4] -> local[nproc] (writes BENCH/BASELINE.md; ~17 min on 4 cores) =='
python3 scripts/scaling_bench.py

echo '== 6. fresh-seed parity soaks (reference-diff + fuzz; ~5 min) =='
python3 scripts/parity_soak.py --rows 50000
python3 scripts/engine_fuzz_soak.py --payloads 30000 --xpaths 30000

echo '== 7. 1M-doc dedup soak (writes BENCH/DEDUP_SOAK_1000000.md; ~5 min) =='
SPARK_GRAFT_MEMORY=24g python3 scripts/dedup_soak.py --rows 1000000
