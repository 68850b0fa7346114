#!/bin/bash
# Direct-JVM runner for graft.Bench: the JSON summary is the LAST BARE
# stdout line — no sbt [info] prefixes or [success] trailer to defeat a
# line-oriented JSON parse.
# Usage: SPARK_GRAFT_SF_DIR=... run_bench.sh [--only q1,q2,...]
set -e
"$(dirname "$0")/commit_snapshot.sh" || true
exec "$(dirname "$0")/run_main.sh" 16g graft.Bench "$@"
