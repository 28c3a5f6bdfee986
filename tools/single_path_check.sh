#!/usr/bin/env bash
# Single-path check over src/main: eleven concerns each have one owner.
#  1. History: commit and checkpoint files are named and read only inside
#     graft.log (`readCommit` / `commitPath` / `checkpointPath` outside
#     src/main/scala/graft/log/), apart from the allow-list below:
#     SparkEntry's q69 stamp read. Everything else pins a version with
#     `TableState.rebuildAt`, walks commits with `LogStore.commits`, and
#     writes or drops log files through `LogStore.checkpoint`, `truncate`
#     and `dropOrphans`.
#  2. Errors: no code branches on an exception's message (`getMessage` and
#     `contains` on one line); failures are typed.
#  3. Reads: committed segments become rows only in `TsTable.read`
#     (`RowTracking.attach`, `liveRowFilter`, `baseRelationToDataFrame`).
#  4. Transform semantics: file pruning takes a transform's values only
#     from Catalyst's own eval, so nothing under src/main/scala/graft/scan/
#     refers to `java.time` or `TimeKernels` (no hand-ported calendar or
#     bucket arithmetic).
#  5. Pruning entry: a segment is kept or pruned only through
#     `StatsPruning.keep` / `pruneSegments`, so nothing outside
#     src/main/scala/graft/scan/ calls `StatsPruning.prepare` or `eval`
#     (maintenance hands over the optimized predicate a scan sees).
#  6. Footers: a Parquet footer is opened only by `FooterStats.open`, on
#     the caller's Hadoop conf, so nothing else calls
#     `ParquetFileReader.open` (its one-argument form builds a fresh
#     `Configuration` per file).
#  7. Clustered layout: every clustered table write lays out its files
#     through the one writer, `RangeBuckets.cluster`, which routes on
#     bounds sampled from the rows it writes, so nothing under
#     src/main/scala/graft/maintain/ or graft/table/ calls
#     `repartitionByRange` (its range exchange samples by running its
#     input a second time). graft/ops (Packing, Sampling) writes no table.
#  8. Tree deletion: a local directory tree is deleted only by
#     `PathNorm.deleteTree`, which removes a symbolic link without following
#     it, so no file outside src/main/scala/graft/meta/PathNorm.scala
#     defines a `deleteTree` (a copy that follows a linked directory deletes
#     its target's files).
#  9. Bloom probes: a footer key bloom prunes files only in the one
#     pruning entry's bloom tier (`FilePruning.prune`, under
#     src/main/scala/graft/scan/) and in a keyed MERGE or delete-by-key of
#     few keys (src/main/scala/graft/maintain/RowLevel.scala), so nothing
#     else calls `KeyBloom.filterMayContain` (a scan or maintenance verb
#     that probed on its own could keep other files than the entry).
# 10. Segment encoding: table, maintenance and streaming code writes
#     Parquet only through `Txn.writeStaged`, which writes every file
#     with the table's codec, row-group size and encoding (no dictionary,
#     v2 delta pages), so nothing else under
#     src/main/scala/graft/{table,maintain,streaming}/ chains a
#     DataFrameWriter (`.write`, no parentheses) into `.parquet(` or
#     `format("parquet")` within four lines.
# 11. Commits: a table version lands only through `Txn.commit`, the one
#     OCC loop (conflict set, CHECK re-gate, coverage snapshot, row ids),
#     so nothing outside src/main/scala/graft/log/ and
#     src/main/scala/graft/table/Txn.scala calls
#     `commitWithExpectedVersion(`, apart from the two v1 bootstrap
#     commits on an empty log: `commitWithExpectedVersion(0L, ...)` inside
#     `TsTable.create` and `TsTable.cloneTo`.
# Comment lines are ignored.
# Usage: tools/single_path_check.sh [repo root]   (default: current directory)
# Prints every offender as file:line:text; exits 1 if there is any, else 0.
set -euo pipefail
cd "${1:-.}"
src=src/main/scala

# grep -n over the sources, minus comment lines
code() {
  grep -rnE --include='*.scala' "$1" "$src" |
    grep -vE '^[^:]+:[0-9]+:[[:space:]]*(//|\*|/\*\*)' || true
}

allow_log=(
  "^$src/graft/SparkEntry\.scala:[0-9]+:.*store\.readCommit\(t\.store\.currentVersion\(\)\)"
)
allow_re=$(IFS='|'; echo "${allow_log[*]}")
history=$(code '\b(readCommit|commitPath|checkpointPath)\b' | grep -v "^$src/graft/log/" | grep -vE "$allow_re" || true)

messages=$(code 'getMessage.*\.contains\(')

# drop the offenders (file:line:text on stdin) that lie in file $1 between
# the first line matching $2 and the next line, from there on, matching $3
outside() {
  local span
  span=$(A="$2" B="$3" awk '!s && $0 ~ ENVIRON["A"] { s = NR }
                            s && !e && $0 ~ ENVIRON["B"] { e = NR }
                            END { print s + 0, e + 0 }' "$1")
  awk -F: -v f="$1" -v s="${span% *}" -v e="${span#* }" '!($1 == f && $2 >= s && $2 <= e)'
}

reads=$(code '(RowTracking\.attach|liveRowFilter|baseRelationToDataFrame)\(' |
  grep -vE ':[0-9]+:.*def (attach|liveRowFilter)\(' |
  outside $src/graft/table/TsTable.scala \
    'private\[graft\] def read\(spark: SparkSession, segs' '^  }$' || true)

semantics=$(code '\b(java\.time|TimeKernels)\b' | grep "^$src/graft/scan/" || true)

entry=$(code 'StatsPruning\.(prepare|eval)\b' | grep -v "^$src/graft/scan/" || true)

footers=$(code 'ParquetFileReader\.open\(' |
  outside $src/graft/table/FooterStats.scala \
    'private def open\(in: HadoopInputFile\)' 'ParquetFileReader\.open\(' || true)

layout=$(code '\brepartitionByRange\b' | grep -E "^$src/graft/(maintain|table)/" || true)

trees=$(code '\bdef deleteTree\b' | grep -v "^$src/graft/meta/PathNorm\.scala:" || true)

probes=$(code 'KeyBloom\.filterMayContain\b' |
  grep -vE "^$src/graft/(scan/|maintain/RowLevel\.scala:)" || true)

# file:line:text of each DataFrameWriter chain in $@ that writes Parquet
parquet_writes() {
  grep -rlE --include='*.scala' '\.write(\.|[[:space:]]*$)' "$@" |
    while read -r f; do
      awk -v f="$f" '{ line[NR] = $0 }
        END {
          for (i = 1; i <= NR; i++) {
            if (line[i] ~ /^[[:space:]]*(\/\/|\*|\/\*\*)/ || line[i] !~ /\.write(\.|[[:space:]]*$)/) continue
            for (j = i; j <= i + 3 && j <= NR; j++)
              if (line[j] ~ /\.parquet\(|format\("parquet"\)/) { print f ":" i ":" line[i]; break }
          }
        }' "$f"
    done
}
writes=$(parquet_writes $src/graft/table $src/graft/maintain $src/graft/streaming |
  outside $src/graft/table/Txn.scala 'private def writeStaged\[' '^  }$' || true)

bootstrap=':[0-9]+:.*commitWithExpectedVersion\(0L,'
commits=$(code 'commitWithExpectedVersion\(' | grep -vE "^$src/graft/(log/|table/Txn\.scala:)" || true)
commits=$( { echo "$commits" | grep -vE "$bootstrap"
             echo "$commits" | grep -E "$bootstrap" |
               outside $src/graft/table/TsTable.scala '^  def create\(' '^  }$' |
               outside $src/graft/table/TsTable.scala '^  def cloneTo\(' '^  }$'
           } | grep . || true)

status=0
report() {
  if [ -n "$2" ]; then
    echo "$1:"
    echo "$2" | sed 's/^/  /'
    status=1
  fi
}
report "log files read or named outside graft.log" "$history"
report "exception-message matching" "$messages"
report "segment reads outside TsTable.read" "$reads"
report "transform semantics outside Catalyst's eval in graft.scan" "$semantics"
report "stats pruning entered outside its keep rule" "$entry"
report "Parquet footer opened outside the one opener" "$footers"
report "clustered layout outside the one writer" "$layout"
report "directory tree deleted outside PathNorm.deleteTree" "$trees"
report "a bloom probe outside the pruning tier" "$probes"
report "a Parquet write outside Txn.writeStaged" "$writes"
report "a commit outside Txn.commit" "$commits"
[ "$status" -eq 0 ] && echo "single-path check: ok"
exit "$status"
