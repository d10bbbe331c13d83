#!/usr/bin/env bash
# Commit precondition: the tree MUST compile before any commit.
# Two rounds in a row shipped a final-commit defect (r9 t24 oracle
# near-miss, r10 '\s' escape that voided the whole round's driver
# signal). Run this before EVERY `git commit`:
#
#   tools/precommit.sh                         # compile + test:compile,
#                                              #   then print src/main lines
#   SPARK_GRAFT_ONLY=t110_x tools/precommit.sh # + smoke named query(s)
#                                              #   at sf0.001
#
# Exit non-zero => do not commit.
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch compile Test/compile

if [[ -n "${SPARK_GRAFT_ONLY:-}" ]]; then
  log=$(mktemp)
  SPARK_GRAFT_ONLY="$SPARK_GRAFT_ONLY" \
    sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/precommit_vout" \
    >"$log" 2>&1 || { tail -20 "$log" >&2; echo "precommit: Verify run FAILED" >&2; exit 1; }
  # a per-query failure prints "[verify] <name> failed:" and continues —
  # treat any occurrence as fatal
  if grep -F '[verify]' "$log" | grep -q 'failed:'; then
    grep -F '[verify]' "$log" >&2
    echo "precommit: smoke query FAILED" >&2; exit 1
  fi
fi
# the one src/main size figure to quote (CHANGES.md tracks it)
shopt -s globstar
echo "precommit: src/main lines: $(cat src/main/**/*.scala | wc -l)"
echo "precommit: OK"
