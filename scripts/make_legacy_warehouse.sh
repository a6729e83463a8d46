#!/usr/bin/env bash
# Rebuild src/test/resources/legacy-warehouse: a small warehouse written
# by the last release that kept table metadata in per-table JSON side
# files (commit ab634553cf14c67131d322852ce5cf35d1bbb772), read by
# LegacyWarehouseSpec. Usage, from the root of a checkout:
#   bash scripts/make_legacy_warehouse.sh
set -euo pipefail
cd "$(dirname "$0")/.."
repo=$(pwd)
rev=ab634553cf14c67131d322852ce5cf35d1bbb772
work=$(mktemp -d)
trap 'rm -rf "$work"' EXIT
git archive "$rev" | tar -x -C "$work"
cp scripts/legacy_warehouse/MakeLegacyWarehouse.scala "$work/src/main/scala/graft/"
(cd "$work" && sbt -batch "runMain graft.MakeLegacyWarehouse $work/out")
# checksum sidecars are optional on read; keep the fixture small
find "$work/out" -name '.*.crc' -delete
rm -rf "$repo/src/test/resources/legacy-warehouse"
mkdir -p "$repo/src/test/resources"
cp -r "$work/out" "$repo/src/test/resources/legacy-warehouse"
