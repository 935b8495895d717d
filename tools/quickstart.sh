#!/usr/bin/env bash
# CI-style check for the README quickstart: runs every advertised
# entry-point command verbatim against /root/testdata and asserts on
# the printed markers / produced artifacts. Exit 0 iff all pass.
set -u
cd "$(dirname "$0")/.."

SF=${1:-/root/testdata/sf0.001}
OUT=/tmp/graft_quickstart
rm -rf "$OUT"
fail=0

step() { echo "== $1"; }
check() { # check <name> <grep-pattern> <logfile>
  if grep -q "$2" "$3"; then echo "   ok: $1"
  else echo "   FAIL: $1 (pattern '$2' missing)"; fail=1; fi
}

step "dumps: deterministic prod/backup dump pair from $SF"
sbt -batch "runMain graft.tools.Quickstart dumps $SF $OUT" >/tmp/qs_dumps.log 2>&1
check dumps "dumps written" /tmp/qs_dumps.log

step "sync: CLI dump -> ordered CRUD script"
sbt -batch "runMain graft.cli.Main $OUT/prod.sql $OUT/backup.sql $OUT/cli_sync.sql" >/tmp/qs_cli.log 2>&1
[ -s "$OUT/cli_sync.sql" ] && echo "   ok: cli script exists" || { echo "   FAIL: cli script missing"; fail=1; }
# the default route (driver-local for a pair this small) and the --state
# route (Spark, bucketed snapshots) must write the same script bytes,
# timestamp line aside
sbt -batch "runMain graft.cli.Main --state $OUT/cli_state $OUT/prod.sql $OUT/backup.sql $OUT/cli_state.sql" >/tmp/qs_cli_state.log 2>&1
mask() { sed 's/^-- Generated on:.*/-- Generated on:/' "$1"; }
if [ -s "$OUT/cli_state.sql" ] && cmp -s <(mask "$OUT/cli_sync.sql") <(mask "$OUT/cli_state.sql"); then
  echo "   ok: default and --state routes write the same script"
else echo "   FAIL: default and --state route scripts differ"; fail=1; fi
# --distributed-out writes part files; sorted and concatenated, minus the
# parts' final newline, they are the same script
sbt -batch "runMain graft.cli.Main --distributed-out $OUT/cli_parts $OUT/prod.sql $OUT/backup.sql" >/tmp/qs_cli_parts.log 2>&1
if ls "$OUT"/cli_parts/part-* >/dev/null 2>&1; then
  cat $(ls "$OUT"/cli_parts/part-* | sort) | head -c -1 >"$OUT/cli_parts.sql"
fi
if [ -s "$OUT/cli_parts.sql" ] && cmp -s <(mask "$OUT/cli_sync.sql") <(mask "$OUT/cli_parts.sql"); then
  echo "   ok: default and --distributed-out routes write the same script"
else echo "   FAIL: default and --distributed-out route scripts differ"; fail=1; fi
sbt -batch "runMain graft.tools.Quickstart sync $OUT" >/tmp/qs_sync.log 2>&1
check sync "sync script:" /tmp/qs_sync.log

step "watch: CDC watcher advance + SCD history"
sbt -batch "runMain graft.tools.Quickstart watch $OUT" >/tmp/qs_watch.log 2>&1
check watch "watcher state:" /tmp/qs_watch.log
sbt -batch "runMain graft.cli.Main --history $OUT/watch_state orders" >/tmp/qs_hist.log 2>&1
check history "History for" /tmp/qs_hist.log

step "curate: 6-stage curation DAG"
sbt -batch "runMain graft.tools.Quickstart curate $SF" >/tmp/qs_curate.log 2>&1
check curate "curate done" /tmp/qs_curate.log

step "dedup: exact / MinHash-LSH / prefix-filter families"
sbt -batch "runMain graft.tools.Quickstart dedup $SF" >/tmp/qs_dedup.log 2>&1
check dedup "prefix-filter exact pairs" /tmp/qs_dedup.log

step "ann: persisted IVF+PQ store build + probe"
sbt -batch "runMain graft.tools.Quickstart ann $SF" >/tmp/qs_ann.log 2>&1
check ann "probe hits" /tmp/qs_ann.log

if [ "$fail" -eq 0 ]; then echo "QUICKSTART OK"; else echo "QUICKSTART FAILED"; fi
exit $fail
