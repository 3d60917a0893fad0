#!/usr/bin/env bash
# Mechanical suite-green-at-snapshot gate (ARCHITECTURE.md "Suite-green-
# at-snapshot rule"). Run as the LAST act before any end-of-round or
# milestone commit; nonzero exit means DO NOT COMMIT.
#
# Checks (cheap-first; ~15 s total, no Spark session needed for 1-2):
#   1. Every module in the package imports and the query registry
#      resolves all entries.
#   2. pytest can collect every test file (catches ImportError-at-
#      collection, the exact r8 failure mode).
#   3. __spark_entry__ exposes entry/queries/oracle_sql with matching keys.
#
# This is a smoke gate, not a substitute for the full suite: the snapshot
# rule still requires a full `pytest tests/` run at the same tree. This
# script exists so that an unimportable tree can never be committed even
# when the full run is stale.
set -u
cd "$(dirname "$0")/.."
fail=0

echo "[1/3] every module imports + registry resolution"
python - <<'EOF' || fail=1
import importlib
import pkgutil

import weather_monitoring_spark as pkg

# Package __init__ files import nothing, so an ImportError in any one
# module (the r8 failure) only shows when that module itself is imported.
mods = [m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
for name in mods:
    importlib.import_module(name)
print(f"  ok: {len(mods)} modules import")
from weather_monitoring_spark.plans.registry import all_queries
n = len(all_queries())
assert n >= 50, f"registry shrank: {n} < 50"
print(f"  ok: {n} queries registered")
EOF

echo "[2/3] pytest collection"
out=$(python -m pytest tests/ --collect-only -q 2>&1)
rc=$?
summary=$(echo "$out" | tail -1)
echo "  $summary"
[ "$rc" -ne 0 ] && fail=1
case "$summary" in
  *error*|*Error*) fail=1 ;;
esac

echo "[3/3] __spark_entry__ surface"
python - <<'EOF' || fail=1
import __spark_entry__ as e
qs, osql = e.queries(), e.oracle_sql()
assert callable(e.entry)
missing = [k for k in osql if k not in qs]
assert not missing, f"oracle_sql keys without queries(): {missing}"
print(f"  ok: {len(qs)} queries, {len(osql)} oracles")
EOF

if [ "$fail" -ne 0 ]; then
  echo "PRE-SNAPSHOT CHECK FAILED — do not commit this tree." >&2
  exit 1
fi
echo "PRE-SNAPSHOT CHECK GREEN"
