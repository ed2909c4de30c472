#!/bin/bash
# Full round gate for the graft engine, in one command (dev tool; the
# canonical sequence from .claude/skills/verify/SKILL.md). Runs:
#   1. the full scalatest suite (incl. plan-shape gates); a run that
#      leaves more /tmp/graft_* dirs than were there before it fails
#   2. Verify + DuckDB burnin at sf0.001, sf0.01 AND sf0.1 (sf0.1 has
#      caught divergences the smaller scales missed); a Verify run that
#      leaves more /tmp/graft_* dirs than were there before it fails
#   3. the partitioning-invariance probe (different CPU counts)
#   4. the PlanAudit 4-sweep regression gate
#   5. the plan-cost pins: one full-sweep Bench at sf0.1, failing on
#      any shuffle/input/stage budget breach (PlanBudgets) — the
#      contention-immune plan-regression check (time pins are NOT
#      gated here: they carry host noise and are the driver's record)
#   6. the flagship Smoke
# Exits nonzero on the first failure. ~20-25 min end to end.
# GATE DISCIPLINE: run this LAST — no src/main edits after it passes.
set -euo pipefail
cd "$(dirname "$0")/.."

# A test or Verify run must leave no scratch dir behind: specs' and
# memos' dirs live under one per-JVM root that is deleted at exit.
graft_tmp_dirs() { find /tmp -maxdepth 1 -type d -name 'graft_*' | wc -l; }

echo "== [1/6] sbt test =="
before=$(graft_tmp_dirs)
sbt -batch test
after=$(graft_tmp_dirs)
if [ "$after" -gt "$before" ]; then
  echo "sbt test left $((after - before)) /tmp/graft_* dirs behind"
  exit 1
fi

echo "== [2/6] Verify + burnin at three scale factors =="
for sf in sf0.001 sf0.01 sf0.1; do
  out="/tmp/gate_${sf}"
  before=$(graft_tmp_dirs)
  sbt -batch "runMain graft.Verify /root/testdata/${sf} ${out}"
  after=$(graft_tmp_dirs)
  if [ "$after" -gt "$before" ]; then
    echo "Verify at ${sf} left $((after - before)) /tmp/graft_* dirs behind"
    exit 1
  fi
  python3 tools/burnin.py "/root/testdata/${sf}" "${out}"
done

echo "== [3/6] partitioning invariance (7 vs default CPUs) =="
SPARK_GRAFT_CPUS=7 sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/gate_pA"
python3 tools/partcheck.py /tmp/gate_pA /tmp/gate_sf0.001

echo "== [4/6] PlanAudit =="
sbt -batch "Test/runMain graft.queries.PlanAudit"

echo "== [5/6] plan-cost pins (shuffle/input/stage budgets, both pinned SFs) =="
# Pin the env knobs that gate Bench's planPinsActive to the driver's
# exact configuration (32 CPUs, BENCH_ONLY cleared), so an inherited
# export can never deactivate the budgets and let this step pass
# vacuously. AQE and the shuffle codec are Spark's own conf at their
# defaults; Bench emits plan_pins_active, and the assert below is the
# backstop against a -Dspark.* override.
# Two sweeps: sf0.1 (the driver's bench SF) and sf0.01 (the driver's
# correctness SF) — the second config catches parallelism/scale-
# dependent plan regressions a single-SF pin misses.
for pinsf in sf0.1 sf0.01; do
  SPARK_GRAFT_SF_DIR=/root/testdata/${pinsf} SPARK_GRAFT_BENCH_RUNS=1 \
    SPARK_GRAFT_CPUS=32 SPARK_GRAFT_BENCH_ONLY= \
    sbt -batch "runMain graft.Bench" 2>&1 | grep -o '{"metric".*}' \
    > "/tmp/gate_bench_${pinsf}.json"
  GATE_PIN_SF="$pinsf" python3 - <<'PYEOF'
import json, os, sys
sf = os.environ["GATE_PIN_SF"]
lines = [json.loads(l) for l in open(f"/tmp/gate_bench_{sf}.json")]
d = max(lines, key=len)
if not d.get("plan_pins_active"):
    print(f"plan pins were NOT active at {sf} (config drift?) — this "
          "step would be vacuous; refusing to pass"); sys.exit(1)
bad = {k: d[k] for k in
       ("shuffle_pin_failures", "input_pin_failures", "stage_pin_failures")
       if d.get(k)}
if d.get("failed", 0):
    print(f"bench had {d['failed']} failed queries at {sf}"); sys.exit(1)
# a failed counting run reports -1 stages/bytes, which the pins skip;
# fail on it here so a broken counting pass cannot pass the pins
uncounted = sorted(q for q, n in d.get("stages", {}).items() if n < 0)
if uncounted:
    print(f"counting run failed at {sf} for {uncounted}: "
          f"{ {q: d.get('errors', {}).get(q) for q in uncounted} }"); sys.exit(1)
if bad:
    print(f"plan-cost pin breach at {sf} (re-baseline PlanBudgets only "
          f"for an INTENDED plan change): {bad}"); sys.exit(1)
print(f"plan pins green at {sf}; shuffle_mb_total={d.get('shuffle_mb_total')}")
PYEOF
done

echo "== [6/6] Smoke =="
# Capture first, grep after: piping sbt straight into `grep -q` under
# pipefail lets grep exit on first match, sbt then dies of SIGPIPE
# (141) and a SUCCESSFUL Smoke run is misreported as a failure.
smoke_out=$(sbt -batch "runMain graft.Smoke")
echo "$smoke_out" | grep -q "entry rows" || {
  echo "smoke output missing entry rows"; exit 1; }

echo "== gate green =="
