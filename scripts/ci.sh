#!/usr/bin/env bash
# Full local gate: tests + correctness dump + DuckDB oracle replay.
# Usage: scripts/ci.sh [sfDir]          (default /root/testdata/sf0.01)
#        scripts/ci.sh --bench [sfDir]  run graft.Bench instead and emit the
#                                       bench JSON as the FINAL stdout line
#                                       (sbt's [success] footer otherwise
#                                       follows the in-run print, which
#                                       breaks naive last-line parsers)
set -euo pipefail
cd "$(dirname "$0")/.."

if [[ "${1:-}" == "--bench" ]]; then
  SF=${2:-/root/testdata/sf0.1}
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
    sbt -batch "runMain graft.Bench"
  cat target/bench.json
  exit 0
fi

SF=${1:-/root/testdata/sf0.01}
OUT=target/ci_verify

mkdir -p target
# every entry under target/dicomq is gone once the test JVM exits: the
# stream drains delete theirs in a finally, and the DICOM queries' per-
# process and per-call directories are swept at JVM exit
dicomq_scratch() {
  local d
  for d in target/dicomq/* target/dicomq/.[!.]*; do
    [[ -e "$d" ]] && echo "$d"
  done
  return 0
}
dicomq_before=$(dicomq_scratch)
sbt -batch test 2>&1 | tee target/ci_test.log
dicomq_left=$(comm -13 <(echo "$dicomq_before" | sort) <(dicomq_scratch | sort))
if [[ -n "$dicomq_left" ]]; then
  echo "the test JVM left scratch directories behind:" $dicomq_left >&2
  exit 1
fi
# every spec shares SparkSuite's one session: Spark prints this line when
# a getOrCreate with options finds a session already running
if grep -q "Using an existing Spark session" target/ci_test.log; then
  echo "a second getOrCreate with options reached the shared test session" \
    "(see target/ci_test.log)" >&2
  exit 1
fi

# the benchmark harness's own tests: they compile against the program's
# API (DicomPipeline.run, Catalog.registerTable, Archives.expand,
# DicomParser.parse, Flatten.flatten), so a change to it fails here
(cd perfbench && sbt -batch test)

SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} \
  sbt -batch "runMain graft.Verify $SF $PWD/$OUT"

python3 scripts/check_oracle.py "$SF" "$PWD/$OUT"

# bench-protocol tooling gate: the three r12 floor-provenance fixes
# (tag-before-capture, old-side validity, valid/invalid tie) stay fixed
python3 scripts/test_bench_floor.py

# README count drift gate: the contract-facing totals on README.md must
# match the compiled registry (counts.json is written by graft.Verify)
python3 - "$PWD/$OUT/counts.json" <<'EOF'
import json, re, sys
counts = json.load(open(sys.argv[1]))
readme = open("README.md").read()
m = re.search(r"(\d+) driver queries \((\d+) with value-identical", readme)
assert m, "README.md no longer states the query/oracle totals"
stated = (int(m.group(1)), int(m.group(2)))
actual = (counts["queries"], counts["oracles"])
assert stated == actual, \
    f"README.md states {stated} (queries, oracles) but the registry has {actual}"
rest = counts["queries"] - counts["oracles"]
m2 = re.search(r"the (\d+)\s*\nothers deterministic rows-only", readme) or \
     re.search(r"the (\d+) others deterministic rows-only", readme)
assert m2 and int(m2.group(1)) == rest, \
    f"README.md rows-only count must be {rest}"
print(f"README counts match the registry: {actual[0]} queries / {actual[1]} oracles")
EOF
echo "CI gate green at $SF"
