#!/bin/bash
# Local verify runner: tools/run_verify.sh <sfdir> <outdir> [only-keys]
# Runs graft.Verify on the compiled classes directly (no sbt fork wait).
set -e
SF=$1; OUT=$2
[ -n "$3" ] && export GRAFT_VERIFY_ONLY="$3"
exec "$(dirname "${BASH_SOURCE[0]}")/graft_java.sh" graft.Verify "$SF" "$OUT"
