#!/usr/bin/env bash
# One-command round validation: compile -> tests -> task-retry probe ->
# correctness at two scale factors -> headline bench. Exits non-zero on
# the first failure.
# Dev tool only - not part of the shipped library.
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch compile
sbt -batch test

# Task-retry determinism (salted aggregation, salted join, the
# Graft.dedupCorpus pipeline): exits non-zero unless all three probes pass.
sbt -batch "runMain graft.RetryProbe"

sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_runall_sf001"
python scripts/verify_local.py /root/testdata/sf0.01 /tmp/graft_runall_sf001

sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/graft_runall_sf01"
python scripts/verify_local.py /root/testdata/sf0.1 /tmp/graft_runall_sf01

# Bench + per-query regression gate: fails on >1.5x per-query slowdowns
# vs the last round's BENCH_r*.json unless BASELINE.md carries a
# `bench-waiver: <query>` line.
sbt -batch "runMain graft.Bench" | tee /tmp/graft_bench_out.txt
python scripts/bench_diff.py /tmp/graft_bench_out.txt
