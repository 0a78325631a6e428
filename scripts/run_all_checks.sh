#!/usr/bin/env bash
# One-shot validation: everything the round is graded on, in order.
set -e
cd "$(dirname "$0")/.."

echo '== 1. test suite (parity + spark e2e + fuzz) =='
python3 -m pytest tests/ -q

echo '== 2. driver contract vs DuckDB oracles (sf0.01) =='
python3 scripts/check_contract.py /root/testdata/sf0.01

echo '== 3. physical plan properties, on a launch that creates the class archive and on one that maps it =='
# jobs.extract.build_session keeps the JVM's class-data-sharing archive
# under $XDG_CACHE_HOME/pyxml_spark; a fresh cache makes the first run
# create it (its JVM writes the file at exit) and the second map it
cds_cache="$(mktemp -d)"
XDG_CACHE_HOME="$cds_cache" python3 scripts/explain_plans.py
XDG_CACHE_HOME="$cds_cache" python3 scripts/explain_plans.py
# (the mapping run's JVM exits on its own a moment after Python does)
for _ in $(seq 30); do pgrep -f "java.*$cds_cache" >/dev/null || break; sleep 1; done
if pgrep -f "java.*$cds_cache" >/dev/null; then
    echo 'FAIL: a java process outlived its launch' >&2; exit 1
fi
if [ "$(ls "$cds_cache"/pyxml_spark/classes-*.jsa | wc -l)" != 1 ] \
        || ls "$cds_cache"/pyxml_spark/*.tmp >/dev/null 2>&1; then
    echo 'FAIL: want one published archive and no temporary dump' >&2; exit 1
fi
rm -rf "$cds_cache"

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
