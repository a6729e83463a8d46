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
# QueryRegistrySpec builds no session: a repeated query name, or a
# query that lost its oracle, fails here in the same sbt start-up.
echo "[precommit] sbt Test/compile + QueryRegistrySpec…"
sbt -batch 'Test/compile' 'testOnly graft.QueryRegistrySpec' >/tmp/precommit.log 2>&1 || {
  tail -30 /tmp/precommit.log
  echo "[precommit] COMPILE OR QUERY REGISTRY FAILED — commit blocked"
  exit 1
}
echo "[precommit] OK"
