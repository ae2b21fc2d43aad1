#!/bin/bash
# tools/mutants.sh — do the specs bite? Each mutant below is a one-line
# edit of src/main that a named spec must catch. The script copies the
# committed tree (`git archive`) into a work directory, checks that the
# named specs pass on the unmutated copy, then applies one mutant at a
# time, runs its specs and restores the file. A mutant whose specs all
# still pass is reported as SURVIVED; the script exits 1 if any did.
#
# Usage: tools/mutants.sh [rev] [work-dir]
#   rev       the commit to copy (default HEAD)
#   work-dir  where the copy is made (default $TMPDIR/graft-mutants,
#             or /tmp/graft-mutants); it is emptied first and must lie
#             outside the repository
# sbt runs with the caller's environment (SBT_OPTS, COURSIER_MODE, ...).
# Runtime: one test run per mutant plus the baseline, ~11 min on 4
# cores. Not part of tools/gate.sh.
set -uo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
REV="${1:-HEAD}"
WORK="${2:-${TMPDIR:-/tmp}/graft-mutants}"
WORK="$(mkdir -p "$WORK" && cd "$WORK" && pwd)"
case "$WORK/" in
  "$REPO"/*) echo "work dir $WORK lies inside the repository"; exit 2 ;;
esac

# One mutant per entry: file|exact text (one line, occurring once)|
# replacement|specs that must fail it (space separated).
MUTANTS=(
  # the scoped-delete kernel keeps only components with 3+ retained
  # members: a component left with exactly two loses its pair
  "src/main/scala/graft/llm/Dedup.scala|.map(_.map(_._1).distinct).filter(_.length > 1).flatten.toSeq|.map(_.map(_._1).distinct).filter(_.length > 2).flatten.toSeq|graft.llm.MaintenanceArmsSpec graft.llm.DedupSpec"
  # incrementalComponentsDelta's driver arm gives a new node its own id
  # instead of its merged component's
  "src/main/scala/graft/llm/Dedup.scala|val newNodes = ends.filterNot(labelOf.contains).map(n => (n, root(n)))|val newNodes = ends.filterNot(labelOf.contains).map(n => (n, n))|graft.llm.MaintenanceArmsSpec"
  # LabelStore.read lets a batch's drops remove its own delta rows
  "src/main/scala/graft/llm/LabelStore.scala|.join(drops, col(\"label\") === col(\"d_label\") && col(\"d_seq\") > col(\"seq\"),|.join(drops, col(\"label\") === col(\"d_label\") && col(\"d_seq\") >= col(\"seq\"),|graft.llm.LabelStoreSpec graft.llm.MaintenanceArmsSpec"
  # GraftSession.withConf never restores a key
  "src/main/scala/graft/core/GraftSession.scala|} finally prev.reverse.foreach {|} finally prev.take(0).foreach {|graft.core.GraftSessionSpec graft.operators.RuntimeFilterSpec"
)

# Run `testOnly` on the given specs in the copy; print the suites that
# failed (one per line), or COMPILE-ERROR when the copy did not build.
run_specs() {
  local log="$1"; shift
  (cd "$WORK/tree" && sbt -batch -Dsbt.log.noformat=true "testOnly $*") >"$log" 2>&1
  if grep -q 'Compilation failed' "$log"; then echo COMPILE-ERROR; return; fi
  awk '/Failed tests:|Error during tests:/ {f = 1; next}
       f && /^\[error\][ \t]+graft\./ {print $2; next} {f = 0}' "$log" | sort -u
  if ! grep -qE 'All tests passed|Tests: succeeded [0-9]+, failed 0' "$log" &&
     ! grep -qE 'Failed tests:|Error during tests:' "$log"; then
    echo NO-RESULT
  fi
}

rm -rf "$WORK/tree" && mkdir -p "$WORK/tree"
git -C "$REPO" archive "$REV" | tar -x -C "$WORK/tree" || exit 2

all_specs="$(for m in "${MUTANTS[@]}"; do echo "${m##*|}"; done | tr ' ' '\n' | sort -u | tr '\n' ' ')"
echo "== baseline: $all_specs"
base="$(run_specs "$WORK/baseline.log" $all_specs)"
if [ -n "$base" ]; then
  echo "baseline fails ($base): see $WORK/baseline.log"; exit 2
fi

survived=0
i=0
for m in "${MUTANTS[@]}"; do
  i=$((i + 1))
  IFS='|' read -r file from to specs <<<"$m"
  cp "$WORK/tree/$file" "$WORK/orig"
  if ! python3 - "$WORK/tree/$file" "$from" "$to" <<'EOF'
import sys
path, old, new = sys.argv[1:4]
src = open(path).read()
if src.count(old) != 1:
    sys.exit(f"{path}: expected one occurrence of {old!r}, found {src.count(old)}")
open(path, "w").write(src.replace(old, new))
EOF
  then echo "mutant $i: edit does not apply"; survived=1; continue; fi
  failed="$(run_specs "$WORK/mutant$i.log" $specs)"
  cp "$WORK/orig" "$WORK/tree/$file"
  case "$failed" in
    *COMPILE-ERROR*|*NO-RESULT*)
      echo "mutant $i ($file): no test result ($failed): see $WORK/mutant$i.log"; survived=1 ;;
    "")
      echo "mutant $i ($file): SURVIVED — $specs all pass"; survived=1 ;;
    *)
      echo "mutant $i ($file): killed by $(echo $failed)"
      for s in $specs; do
        grep -qx "$s" <<<"$failed" || echo "  note: $s passed on this mutant"
      done ;;
  esac
done
exit $survived
