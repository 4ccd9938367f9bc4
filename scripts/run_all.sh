#!/usr/bin/env bash
# One-command round validation: compile -> smoke -> tests -> task-retry
# probe -> correctness at two scale factors -> headline bench. Exits
# non-zero on the first failure.
# Dev tool only - not part of the shipped library.
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch compile
# The benchmark harness compiles against this checkout's public modules:
# a moved or deleted method it calls fails here, not at the next bench run.
(cd perfbench && sbt -batch compile)
# The harness's own self-test: seeded inputs are reproducible and the
# oracle CTE rewrite marks only shared CTEs. It reads perfbench/ and
# writes only its scratch dir under .perfbench/.
python3 perfbench/selftest.py

# Smoke: the contract entry on sf0.001 must return rows.
sbt -batch "runMain graft.Smoke" | tee /tmp/graft_smoke_out.txt
rows=$(sed -n 's/^ENTRY_ROWS=\([0-9]*\)$/\1/p' /tmp/graft_smoke_out.txt | tail -1)
if [ "${rows:-0}" -le 0 ]; then
    echo "smoke: ENTRY_ROWS=${rows:-missing}, expected > 0" >&2
    exit 1
fi

sbt -batch test
# Code-size counts cited in CHANGES.md (code lines, raw checkpoint calls).
bash scripts/code_lines.sh

# Task-retry determinism (salted aggregation, salted join, the
# Components.dedupCorpus pipeline): exits non-zero unless all three probes
# pass.
sbt -batch "runMain graft.RetryProbe"

sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_runall_sf001"
python scripts/verify_local.py /root/testdata/sf0.01 /tmp/graft_runall_sf001

sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/graft_runall_sf01"
python scripts/verify_local.py /root/testdata/sf0.1 /tmp/graft_runall_sf01

# Bench + per-query regression gate: fails on >1.5x per-query slowdowns
# vs the last round's BENCH_r*.json unless BASELINE.md carries a
# `bench-waiver: <query>` line. The contract JSON line must be the
# bench's literal last stdout line.
sbt -batch "runMain graft.Bench" | tee /tmp/graft_bench_out.txt
tail -1 /tmp/graft_bench_out.txt | python3 -m json.tool > /dev/null
python scripts/bench_diff.py /tmp/graft_bench_out.txt
