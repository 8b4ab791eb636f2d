#!/usr/bin/env bash
# Snapshot gate — run before ANY end-of-round commit.
#
# Round 2 shipped with pytest red (the s04/s05 NTZ crash was visible to
# tests/test_entry.py::test_all_queries_run_sf0001 and ignored). This
# script is the discipline: every registered query must EXECUTE, every
# oracle-backed query must hash-match DuckDB, and every result type
# must line up — locally, before the driver ever sees the snapshot.
#
# Usage: tools/gate.sh [sf_dir]        (default /root/testdata/sf0.01)
# Exit 0 = safe to snapshot. Any other exit = DO NOT COMMIT THE SNAPSHOT.
set -u
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
fail=0

echo "=== gate 1/4: pytest (includes test_all_queries_run_sf0001) ==="
# -rs: list every skipped test with its reason, so a skip never reads
# as coverage
python -m pytest tests/ -x -q -rs || fail=1

echo "=== gate 2/4: oracle result-type audit ==="
python tools/check_types.py /root/testdata/sf0.001 || fail=1

echo "=== gate 3/4: proof-invalidation audit (stale driver proofs) ==="
python tools/proof_audit.py || fail=1

echo "=== gate 4/4: full oracle correctness at ${SF_DIR} ==="
python tools/check_correctness.py "${SF_DIR}" > /tmp/gate_correctness.out \
    2>/tmp/gate_correctness.err || fail=1
tail -3 /tmp/gate_correctness.out

if [ "$fail" -ne 0 ]; then
    echo "GATE RED — fix before snapshotting (see output above)."
    exit 1
fi
echo "GATE GREEN — safe to snapshot."
