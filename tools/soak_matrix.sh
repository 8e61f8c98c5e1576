#!/usr/bin/env bash
# Config-matrix soak: run the FULL correctness suite + the OCC/maintenance/
# stream specs with a non-default property stack forced ON for every table
# in the process, via the GRAFT_PROPERTY_DEFAULTS overlay
# (ManagedTable.propertyDefaults — table _props.txt still wins):
#
#   cell A: distributedPlanning=always x checkpointFormat=parquet
#   cell C: columnMapping=name on EVERY table — the systematic catcher for
#           raw-scan paths that would key on physical column names (r12's
#           review caught two by hand; this cell catches the next one)
#   cell D: cell A x cell C — the parquet checkpoint, distributed planning
#           and the name indirection soak as one system
#
# Every piece is individually specced; THIS run exercises the combination —
# parquet checkpoints + log-seeded commits + SchemaCache carries +
# distributed planning over checkpoint sidecars — as one system over the
# whole workload. Checkpoints are always written synchronously by the
# checkpoint-due commit, so no cell varies the checkpoint path itself.
# Done = the same oracle verdict (identical pass set, 0 fail) in every cell.
set -uo pipefail
cd "$(dirname "$0")/.."

CELL_A="graft.manifest.checkpointFormat=parquet,graft.metadata.distributedPlanning=always"
CELL_C="graft.columnMapping=name"
CELL_D="$CELL_A,$CELL_C"

SPECS="graft.table.OccSpec graft.table.CommitFastPathSpec graft.table.ParquetCheckpointSpec graft.table.DistributedPlanningSpec graft.table.ManifestDeltaSpec graft.table.MergeSpec graft.table.ManagedTableSpec graft.table.MergeClauseSpec graft.table.DeletionVectorSpec graft.table.RowTrackingSpec graft.table.SchemaCacheSpec"
# cell C adds the mapping-sensitive suites (DedupSpec: shingle index +
# contamination screens + gram store; ColumnMappingSpec: the machinery
# itself; NgramLmSpec: LM persistence/MERGE-folding over managed tables)
SPECS_C="$SPECS graft.ops.DedupSpec graft.table.ColumnMappingSpec graft.ops.NgramLmSpec"

run_cell() {
  local name="$1" defaults="$2" specs="$3" out
  out="/tmp/soak_${name}"
  echo "== cell $name: $defaults =="
  echo "-- verify (sf0.01) --"
  GRAFT_PROPERTY_DEFAULTS="$defaults" \
    sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out" \
    > "/tmp/soak_${name}_verify.log" 2>&1
  python3 tools/check.py /root/testdata/sf0.01 "$out" | tail -1
  echo "-- specs --"
  GRAFT_PROPERTY_DEFAULTS="$defaults" \
    sbt -batch "testOnly $specs" > "/tmp/soak_${name}_specs.log" 2>&1
  grep -E "Tests: succeeded" "/tmp/soak_${name}_specs.log" | tail -1
}

# --quick: cell D only (~12 min instead of ~35) — D is A x C, so its
# property surface subsumes both. The full three-cell matrix stays the
# end-of-round gate; quick is for MID-ROUND gating so the soak keeps
# getting run rather than skipped.
if [ "${1:-}" = "--quick" ]; then
  run_cell D "$CELL_D" "$SPECS_C"
  echo "== quick soak (cell D) done; logs in /tmp/soak_D*.log =="
  exit 0
fi

run_cell A "$CELL_A" "$SPECS"
run_cell C "$CELL_C" "$SPECS_C"
run_cell D "$CELL_D" "$SPECS_C"
echo "== soak done; logs in /tmp/soak_*.log =="
