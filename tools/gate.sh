#!/usr/bin/env bash
# The standing end-of-round gate: compile + unit tests + the benchmark
# harness's self-tests + one elt_deep and one elt_wide benchmark run, each
# of which must report "correct": true + oracle compare at BOTH sf0.01
# and sf0.1. The sf0.1 pass exists because cross-engine rounding-boundary
# bugs (a value landing within 1 ulp of a .00005 boundary flips
# round(x,4) between JVM and DuckDB libm) are invisible at sf0.01 row
# counts — q31's history.
# Run before every round-end commit; every stage must be green.
set -euo pipefail
cd "$(dirname "$0")/.."

# graft.util.TmpDirs.perProcess dirs (graft_<name>-<pid>-<millis>) are
# deleted when their JVM exits, so the gate must leave no more of them
# than it found. Assumes a quiet host: another graft JVM running (or
# killed) meanwhile changes the count too.
scratch_dirs() {
  find "${TMPDIR:-/tmp}" -maxdepth 1 -regextype posix-extended \
    -regex '.*/graft_.*-[0-9]+-[0-9]+' | wc -l
}
dirs_before=$(scratch_dirs)

# graft.GraftExtensions, installed by graft.util.Session.build, is the
# one way the engine's functions and planner strategy enter a session.
echo "== nothing in src/main installs into a session by hand =="
if grep -rnE 'functionRegistry|extraStrategies' src/main; then
  echo "src/main writes a session's function registry or strategies;" \
    "inject it in graft.GraftExtensions instead" >&2
  exit 1
fi

echo "== sbt compile + test =="
sbt -batch test

echo "== benchmark harness self-tests =="
python3 -m unittest discover -s perfbench/tests

# The only check of the whole mart against the generator's predicted rows
# after many batches (16 five-minute batches, one refresh).
echo "== benchmark smoke run: elt_deep mart against the generator =="
smoke=$(python3 perfbench/run.py --workload elt_deep --seed 1 --seconds 8 --trace 0 | tail -1)
if ! grep -q '"correct": true' <<<"$smoke"; then
  echo "elt_deep smoke run not correct: $smoke" >&2
  exit 1
fi

# The only check of an extract that follows a refresh, and of a second
# refresh over loaded RAW tables (two hourly cycles of 24 channels).
echo "== benchmark smoke run: elt_wide mart against the generator =="
smoke=$(python3 perfbench/run.py --workload elt_wide --seed 1 --seconds 8 --trace 0 | tail -1)
if ! grep -q '"correct": true' <<<"$smoke"; then
  echo "elt_wide smoke run not correct: $smoke" >&2
  exit 1
fi

echo "== Verify + selfcheck @ sf0.01 =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_sf001" \
  2>&1 | grep -E "verify\]" || true
python3 tools/selfcheck.py /root/testdata/sf0.01 /tmp/gate_sf001

echo "== Verify + selfcheck @ sf0.1 (rounding-boundary pass) =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/gate_sf01" \
  2>&1 | grep -E "verify\]" || true
python3 tools/selfcheck.py /root/testdata/sf0.1 /tmp/gate_sf01

echo "== per-process scratch dirs cleaned up at JVM exit =="
dirs_after=$(scratch_dirs)
if [ "$dirs_after" -gt "$dirs_before" ]; then
  echo "per-process scratch dirs grew: $dirs_before -> $dirs_after" >&2
  exit 1
fi

echo "== gate green =="
