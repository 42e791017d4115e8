#!/bin/bash
# Regenerate the staged-golden oracle fixtures for the two queries whose
# outputs are deterministic but not SQL-recomputable (trained-BPE piece ids,
# JDK-Deflater byte counts). Each fixture is the query's own output at one SF,
# committed under src/test/resources/golden/ and read back by the DuckDB
# oracle (TextQueries.stagedGolden selects the fixture by the corpus's total
# text bytes). Run from /root/repo after any change that intentionally alters
# these outputs, then re-run verify to confirm the hash gate.
set -euo pipefail
cd "$(dirname "$0")/.."
QUERIES=q_text_bpe_encode,q_text_deflate
mkdir -p src/test/resources/golden
for sf in 0.001 0.01 0.1; do
  out=/tmp/stage_goldens_$sf
  rm -rf "$out"
  SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify /root/testdata/sf$sf $out $QUERIES"
  for q in ${QUERIES//,/ }; do
    # Verify writes one part file per task: merge them, in part order,
    # into the single fixture file the oracle reads
    python3 - "$out/$q" "src/test/resources/golden/${q}_sf${sf}.parquet" <<'PY'
import glob, sys
import pyarrow as pa, pyarrow.parquet as pq
parts = sorted(glob.glob(f"{sys.argv[1]}/part-*.parquet"))
if not parts:
    sys.exit(f"no part files in {sys.argv[1]}")
pq.write_table(pa.concat_tables([pq.read_table(p) for p in parts]), sys.argv[2])
PY
  done
done
ls -la src/test/resources/golden/
