#!/bin/bash
# Snapshot gate: a commit may not land unless main+test sources compile
# and the flagship entry returns rows on sf0.001. Invoke before every
# `git commit` (or wire as .git/hooks/pre-commit). Exists because round
# 10 shipped a snapshot that had never seen the compiler.
set -e
cd /root/repo
echo "[precommit] sbt Test/compile"
sbt -batch Test/compile > /tmp/precommit_compile.log 2>&1 || {
  tail -30 /tmp/precommit_compile.log
  echo "[precommit] FAIL: compile"
  exit 1
}
echo "[precommit] SparkEntry smoke (sf0.001)"
sbt -batch "runMain graft.tools.EntrySmoke /root/testdata/sf0.001" \
  > /tmp/precommit_smoke.log 2>&1 || {
  tail -30 /tmp/precommit_smoke.log
  echo "[precommit] FAIL: entry smoke"
  exit 1
}
grep -q "ENTRY_SMOKE_OK" /tmp/precommit_smoke.log || {
  tail -30 /tmp/precommit_smoke.log
  echo "[precommit] FAIL: smoke marker missing"
  exit 1
}
# Targeted specs (round-11 verdict #8): run every spec suite that
# references a main-source class changed since the last commit, so a
# semantics regression can't ship between full-suite runs. Skip with
# GRAFT_PRECOMMIT_NOSPEC=1 (doc-only commits) or when nothing matches.
if [ "${GRAFT_PRECOMMIT_NOSPEC:-0}" != "1" ]; then
  # Union in untracked files: a brand-new main-source class must also get
  # its referencing specs run, not just modified tracked ones.
  CHANGED_FILES=$({ git diff --name-only HEAD -- 'src/main/scala';
      git ls-files --others --exclude-standard -- 'src/main/scala'; } |
    grep '\.scala$' || true)
  CHANGED=$(echo "$CHANGED_FILES" | xargs -r -n1 basename |
    sed 's/\.scala$//' | sort -u)
  # Suites such as PlanShapeSpec reach query bodies only by name, through
  # SparkEntry.queries: a change to a query file selects them too.
  if echo "$CHANGED_FILES" | grep -q '^src/main/scala/graft/queries/'; then
    CHANGED="$CHANGED SparkEntry"
  fi
  # Suites are named from their `class`/`object` declarations, not from
  # file names: a file may be named by subject while its class keeps an
  # older name (StatisticsOpsSpec.scala holds Round11OpsSpec).
  SUITE='^(final )?(class|object) [A-Za-z0-9_]+(Spec|Properties)\b'
  naming() { grep -rlE "\b$1\b" src/test/scala --include='*.scala' 2>/dev/null || true; }
  SPECS=""
  for c in $CHANGED; do
    FILES=$(naming "$c")
    # A test file that names the class but declares no suite is a helper
    # (TestSpark names GraftSession, and every suite reaches it through
    # TestSpark): the suites that name the helper are selected too, one
    # level deep.
    for f in $FILES; do
      grep -qE "$SUITE" "$f" && continue
      for h in $(grep -hoE '^(final )?(case )?(class|object|trait) [A-Za-z0-9_]+' \
          "$f" | awk '{print $NF}'); do
        FILES="$FILES $(naming "$h")"
      done
    done
    SPECS="$SPECS $(echo "$FILES" | xargs -r grep -hoE "$SUITE" |
      awk '{print $NF}')"
  done
  SPECS=$(echo "$SPECS" | tr ' ' '\n' | grep -E 'Spec$|Properties$' |
    sort -u | sed 's/^/graft./' | tr '\n' ' ')
  if [ -n "$SPECS" ]; then
    echo "[precommit] targeted specs:$(echo " $SPECS" | sed 's/ graft\./ /g')"
    sbt -batch "testOnly $SPECS" > /tmp/precommit_specs.log 2>&1 || {
      grep -E "\*\*\* FAILED|Tests:" /tmp/precommit_specs.log | tail -20
      echo "[precommit] FAIL: targeted specs"
      exit 1
    }
    grep -E "^\[info\] Tests: " /tmp/precommit_specs.log | tail -1
  else
    echo "[precommit] no spec references changed classes"
  fi
fi
# The benchmark (perfbench/) compiles src/main/scala with its own sources,
# so a change to either runs the benchmark's own logic tests.
if [ -n "$({ git diff --name-only HEAD -- perfbench src/main/scala;
    git ls-files --others --exclude-standard -- perfbench src/main/scala; })" ]; then
  echo "[precommit] perfbench unit tests"
  PYTHONDONTWRITEBYTECODE=1 python3 -m unittest discover -s perfbench/tests \
    > /tmp/precommit_perfbench.log 2>&1 || {
    tail -30 /tmp/precommit_perfbench.log
    echo "[precommit] FAIL: perfbench unit tests"
    exit 1
  }
  tail -1 /tmp/precommit_perfbench.log
fi
# A perfbench workload run once (seed 1), which must end with
# `"correct": true` and `"failed": 0`.
workload() {
  echo "[precommit] $1 workload (perfbench, seed 1)"
  python3 perfbench/run.py --workload "$1" --seed 1 --seconds 10 --trace 0 \
    > "/tmp/precommit_$1.log" 2>&1 || true
  LAST=$(tail -1 "/tmp/precommit_$1.log")
  echo "$LAST" | python3 -c 'import json, sys
r = json.loads(sys.stdin.read())
sys.exit(0 if r.get("correct") is True and r.get("failed") == 0 else 1)' \
    2>/dev/null || {
    tail -30 "/tmp/precommit_$1.log"
    echo "[precommit] FAIL: $1 workload"
    exit 1
  }
  echo "$LAST"
}
changed() {
  [ -n "$({ git diff --name-only HEAD -- "$@";
    git ls-files --others --exclude-standard -- "$@"; })" ]
}
# Session configuration (GraftSession.configure) reaches every workload:
# a change to it runs both.
if changed src/main/scala/graft/GraftSession.scala; then
  workload analytics
  workload stream
# No tier-1 test checks the replayed, stored and KPI totals of a stream end
# to end; the benchmark's stream workload does (DuckDB and batch-engine
# checks). A change to the streaming or sources layer, or to the drift
# ops and kernels every batch's admission datacard runs, runs it once.
elif changed src/main/scala/graft/streaming src/main/scala/graft/sources \
    src/main/scala/graft/ops/DataQuality.scala src/main/scala/graft/ops/Stats.scala \
    src/main/scala/graft/functions/DriftKernels.scala; then
  workload stream
fi
echo "[precommit] OK"
