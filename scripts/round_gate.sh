#!/usr/bin/env bash
# Local mirror of the driver's per-round gate:
#   t1 smoke  -> entry() at sf0.001
#   t2 checks -> queries() vs oracle_sql() at sf0.01
#   parity    -> self-contained operator snapshots (repository inputs)
#   goldens   -> fixture snapshots
#   plans     -> physical-plan properties
#   tests     -> python -m pytest -x -q
#   bench     -> one JSON line at sf0.1
# Run EXCLUSIVELY (benchmarks are noise-sensitive on this host).
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== entry smoke =="
python - <<'EOF'
import __spark_entry__ as m
from engine.session import get_spark
s = get_spark(master="local[8]", shuffle_partitions=8)
s.sparkContext.setLogLevel("ERROR")
n = m.entry(s).count()
assert n > 0, "entry returned no rows"
print(f"entry rows: {n}")
s.stop()
EOF

echo "== oracle checks (sf0.01) =="
python scripts/check_oracles.py

echo "== parity goldens (self-contained) =="
python scripts/gen_goldens.py --parity --check

echo "== goldens =="
python scripts/gen_goldens.py --check

echo "== plan properties =="
python scripts/explain_plans.py > /dev/null && echo "plans OK"

echo "== pytest =="
python -m pytest tests/ -x -q

echo "== bench (sf0.1) =="
python bench.py | tee /tmp/round_gate_bench.json
python scripts/check_bench_floor.py /tmp/round_gate_bench.json

echo "ROUND GATE: ALL GREEN"
