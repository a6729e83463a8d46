#!/usr/bin/env bash
# Compile tripwire: a broken HEAD must never ship (round 13 shipped one —
# a single uncompilable line zeroed every gate for the round). Run this
# before EVERY commit; install as a local hook with:
#   ln -sf ../../scripts/precommit.sh .git/hooks/pre-commit
# Exit nonzero = do not commit.
set -euo pipefail
cd "$(dirname "$0")/.."
# One SparkSession factory: every main and test builds its session with
# graft.GraftSession.local, so session confs cannot drift between them.
builders=$(git grep -n 'SparkSession.builder()' -- src | grep -v '^src/main/scala/graft/GraftSession.scala:' || true)
if [ -n "$builders" ]; then
  echo "$builders"
  echo "[precommit] SparkSession.builder() outside GraftSession.scala — use GraftSession.local"
  exit 1
fi
# One metadata format: table state lives in metadata/v<N>.json records
# (graft.store.TableMeta). The per-table JSON side files they replaced
# are named only by the one legacy-migration reader.
sidefiles=$(git grep -nE '"(schema|sort|partition|bloom|identifier|constraints|defaults|properties|cdc|renames|drops|tags|stats|mv)\.json"' -- src/main ':!src/main/scala/graft/store/LegacyMeta.scala' || true)
if [ -n "$sidefiles" ]; then
  echo "$sidefiles"
  echo "[precommit] table side-file name outside LegacyMeta.scala — keep table metadata in TableMeta"
  exit 1
fi
# One commit seam: snapshot-log writes, the WAP and branch sidecar
# updates and the table lock are called only from the seam
# (graft.store.TableCommit), so every snapshot is summed, guarded,
# stamped and fed the same way.
seam=$(git grep -nE 'SnapshotLog\.(commit|write|checkpoint|updateWap|updateBranches|publishWap|fastForward|withTableLock)' -- src/main ':!src/main/scala/graft/store/SnapshotLog.scala' ':!src/main/scala/graft/store/TableCommit.scala' || true)
if [ -n "$seam" ]; then
  echo "$seam"
  echo "[precommit] snapshot-log write or table lock outside TableCommit.scala — commit through the seam"
  exit 1
fi
# One snapshot read path: only TableScan.pin resolves a snapshot and
# only its scan builds a relation over data files (graft.store.TableScan);
# the commit seam reads its base snapshot itself.
scan=$(git grep -nE 'SnapshotLog\.(resolve|resolveVersion|asOf)|GraftSqlShim\.parquetScan' -- src/main ':!src/main/scala/graft/store/TableScan.scala' ':!src/main/scala/graft/store/TableCommit.scala' || true)
if [ -n "$scan" ]; then
  echo "$scan"
  echo "[precommit] snapshot resolution or parquet scan outside TableScan.scala — read through pin/scan"
  exit 1
fi
# One relation resolver: the Engine's binder binds every name in an
# Engine statement itself; it registers no session temp view and reads
# none (GraftCatalog.registerView's views serve plain spark.sql only).
views=$(git grep -nE 'createOrReplaceTempView|registerView|spark\.table' -- src/main/scala/graft/sql/Engine.scala || true)
if [ -n "$views" ]; then
  echo "$views"
  echo "[precommit] temp-view registration or lookup in Engine.scala — bind the name in Engine.Binder"
  exit 1
fi
# The main and test sources compile warning-free under -deprecation,
# -Wunused:imports and -Wunused:privates,locals,patvars: -Werror (on
# both compiles) turns any such warning
# under src/main or src/test into a failed compile, which is never cached
# as done, so every later run reports it again. QueryRegistrySpec builds
# no session: a repeated query name, or a query that lost its oracle,
# fails here in the same sbt start-up.
echo "[precommit] sbt compile + Test/compile (warnings fail) + QueryRegistrySpec…"
sbt -batch \
  'set Compile / compile / scalacOptions ++= Seq("-deprecation", "-Wunused:imports", "-Wunused:privates,locals,patvars", "-Werror")' \
  'set Test / compile / scalacOptions ++= Seq("-deprecation", "-Wunused:imports", "-Wunused:privates,locals,patvars", "-Werror")' \
  'compile' 'Test/compile' 'testOnly graft.QueryRegistrySpec' >/tmp/precommit.log 2>&1 || {
  grep -E '^\[(warn|error)\] .*src/(main|test)/' /tmp/precommit.log || tail -30 /tmp/precommit.log
  echo "[precommit] COMPILE WARNING, COMPILE OR QUERY REGISTRY FAILED — commit blocked"
  exit 1
}
echo "[precommit] OK"
