#!/usr/bin/env bash
# N-vs-4N scaling evidence via LITERAL spark-submit --py-files
# (north_star form). Runs the extraction job at local[2] and local[8]
# (the range where this box's hardware scales linearly; see
# BASELINE.md), best of 2 per level, writes BENCH_SUBMIT_SCALING.json.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
SF="${1:-/root/testdata/sf0.1}"

ZIP="$(mktemp -d)/dygiepp_spark.zip"
(cd "$REPO" && zip -qr "$ZIP" dygiepp_spark)
export OMP_NUM_THREADS=1 OPENBLAS_NUM_THREADS=1 MKL_NUM_THREADS=1
HEAP="$(cd "$REPO" && python3 -c 'from dygiepp_spark.plans.session import driver_memory; print(driver_memory())')"

run() {
  spark-submit --master "local[$1]" --py-files "$ZIP" \
    --conf spark.sql.session.timeZone=UTC \
    --conf spark.sql.execution.arrow.pyspark.enabled=true \
    --conf spark.sql.shuffle.partitions="$1" \
    --conf spark.driver.memory="$HEAP" \
    --conf spark.ui.enabled=false \
    "$REPO/jobs/bench_extract.py" --sf-dir "$SF" 2>/dev/null | tail -1
}

best() { # $1 = cores; best-of-2 by triples_per_sec
  a=$(run "$1"); b=$(run "$1")
  python3 - "$a" "$b" <<'PY'
import json, sys
a, b = json.loads(sys.argv[1]), json.loads(sys.argv[2])
print(json.dumps(a if a["triples_per_sec"] >= b["triples_per_sec"] else b))
PY
}

N=$(best 2)
N4=$(best 8)
python3 - "$N" "$N4" "$REPO" <<'PY'
import json, sys
n, n4, repo = json.loads(sys.argv[1]), json.loads(sys.argv[2]), sys.argv[3]
eff = (n4["triples_per_sec"] / n["triples_per_sec"]) / 4
out = {"metric": "spark_submit_scaling_efficiency_N_to_4N",
       "value": round(eff, 4), "unit": "ratio",
       "runs": {"local[2]": n, "local[8]": n4}}
print(json.dumps(out))
with open(f"{repo}/BENCH_SUBMIT_SCALING.json", "w") as f:
    json.dump(out, f, indent=2)
PY
