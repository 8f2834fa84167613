#!/usr/bin/env bash
# spark-submit --py-files packaging path (north_rule's deployment mode).
#
# Zips the package and submits the crawl bench job. On a real cluster,
# replace --master with yarn/k8s and add executor sizing; the code path is
# identical — the engine only ever talks to a SparkSession.
#
# Usage: tools/submit.sh [--cpus N] [extra bench_crawl args...]
set -euo pipefail
cd "$(dirname "$0")/.."
ZIP=/tmp/etherscan_contract_crawler_spark.zip
rm -f "$ZIP"
python - <<'PY'
import os, zipfile
with zipfile.ZipFile("/tmp/etherscan_contract_crawler_spark.zip", "w") as z:
    for root, _, files in os.walk("etherscan_contract_crawler_spark"):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                z.write(p, p)
PY
# defaults sized to the machine, the same ones get_spark uses (session.py);
# SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM override them
MACHINE=$(python -c "from etherscan_contract_crawler_spark.session import machine_cpus, default_driver_memory; print(machine_cpus(), default_driver_memory())")
CPUS="${SPARK_GRAFT_CPUS:-${MACHINE% *}}"
if [ "${1:-}" = "--cpus" ]; then CPUS="$2"; shift 2; fi
GC_THREADS=$(( CPUS < 8 ? CPUS : 8 ))
SEEDS="${SPARK_GRAFT_SEEDS:-/tmp/spark_graft_bench_seeds_250k.parquet}"
if [ ! -f "$SEEDS" ] && [ ! -d "$SEEDS" ]; then
  python -c "from etherscan_contract_crawler_spark.sources.synthetic import gen_seed_parquet; gen_seed_parquet('$SEEDS', 250_000, n_domains=8_000)"
fi
exec /opt/spark/bin/spark-submit \
  --master "local[$CPUS]" \
  --driver-memory "${SPARK_GRAFT_DRIVER_MEM:-${MACHINE#* }}" \
  --py-files "$ZIP" \
  --conf spark.sql.shuffle.partitions="$CPUS" \
  --conf spark.driver.extraJavaOptions="-XX:+UseParallelGC -XX:ParallelGCThreads=$GC_THREADS -Xmn2g" \
  tools/submit_job.py --cpus "$CPUS" --seeds "$SEEDS" "$@"
