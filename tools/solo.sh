#!/bin/bash
# Solo fresh-JVM bench probe (the RefreshRef/judge protocol): one query per JVM.
REPO="$(cd "$(dirname "$0")/.." && pwd)"
for q in "$@"; do
  out=$(SPARK_GRAFT_ONLY="$q" SPARK_GRAFT_CHILD=1 SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to a scale-factor directory} SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} "$REPO/tools/jrun.sh" graft.Bench 2>/dev/null | grep '"detail":"full-names"')
  echo "$q -> $out"
done
