#!/bin/bash
# Direct-JVM runner for graft.Verify. Usage: run_verify.sh <sfDir> <outDir> [names]
set -e
# Round-snapshot hygiene (VERDICT r6 #1): driver-written round
# artifacts must never ride untracked into judging — commit any that
# are new or modified before doing anything else.
"$(dirname "$0")/commit_snapshot.sh" || true
exec "$(dirname "$0")/run_main.sh" 16g graft.Verify "$@"
