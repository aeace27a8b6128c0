#!/usr/bin/env bash
# Pre-commit plan gate: runs every suite that asserts on PHYSICAL PLAN
# shape, so a kernel edit can never land with a red plan contract again
# (round 5 shipped a sample_balanced kernel change without re-running
# Wave6PlanSpec — this is the institutional fix).
#
# Usage:  tools/plangate.sh          # plan suites only (~2 min)
#         tools/plangate.sh --full   # the whole sbt test suite
#
# Pair with tools/gate.py (DuckDB correctness replay) before committing:
#   sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/vout <names>"
#   python3 tools/gate.py /root/testdata/sf0.01 /tmp/vout <names>
set -euo pipefail
cd "$(dirname "$0")/.."

PLAN_SUITES=(
  graft.Wave6PlanSpec        # wave-6 operator plan contracts
  graft.Wave9PlanSpec        # inverted-index pushed-term-filter contracts
  graft.ClusterProfileSpec   # profiler single-pass / exchange budget
  graft.BandedJoinRuleSpec   # banded-join rewrite fires + plan shape
  graft.ScaleSpec            # pushdown / broadcast / no-collect asserts
  graft.BehaviorSpec         # event-pipeline single-exchange shapes
  graft.Wave87PlanSpec     # r7: batched top-k / dq plan contracts
  graft.Wave10Spec           # KS kernel plan + CMS error contract
  graft.Wave11Spec           # AQE skew-split contract + ANN metric sanity
  graft.Wave14Spec           # FD verdicts + packing mass conservation
  graft.Wave21Spec           # prefix-min kernel + cusum/twap plan contracts
  graft.Wave22Spec           # bloom-prefilter probe + prune contracts
  graft.Wave24Spec           # gini rank-kernel plan contract
  graft.Wave26Spec           # sweep kernel + single-partition-exchange budget
  graft.Wave28Spec           # rfm triple-kernel plan contract
  graft.WindowAuditSpec      # r9: global-window registry (plan sweep + source lint)
  graft.OpsLintSpec          # one owner each: Tables.load, tokenizer pair, shuffle width
  graft.Wave3Spec            # CC superstep: one job per superstep, no width-1 exchange
  graft.Wave98Spec           # LPA: one job per round, no cached frame left behind
)

if [[ "${1:-}" == "--full" ]]; then
  exec sbt -batch test
fi
exec sbt -batch "testOnly ${PLAN_SUITES[*]}"
