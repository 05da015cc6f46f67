#!/bin/bash
# Replicates the bench driver's tail-parse EXACTLY, so we catch any sbt
# output pollution locally before a round is graded:
#   1. run `sbt "runMain graft.Bench"` capturing stdout,
#   2. keep the LAST 2000 characters,
#   3. take the LAST non-empty line,
#   4. json.loads it — non-JSON (e.g. an "[info] " logger prefix, a
#      "[success]" epilogue, or a front-truncated line) fails loudly.
# Rounds 1-3 each failed this parse for a different reason; this script
# is the regression gate. Usage: tools/tailparse_check.sh [sf_dir]
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=$(mktemp)
SPARK_GRAFT_SF_DIR="$SF" sbt "runMain graft.Bench" > "$OUT" 2>/dev/null
python3 - "$OUT" <<'EOF'
import json, sys
raw = open(sys.argv[1], encoding="utf-8", errors="replace").read()
tail = raw[-2000:]
lines = [l for l in tail.splitlines() if l.strip()]
if not lines:
    sys.exit("TAILPARSE FAIL: empty stdout tail")
last = lines[-1]
try:
    obj = json.loads(last)
except Exception as e:
    sys.exit(f"TAILPARSE FAIL: last line is not JSON ({e}):\n{last!r}")
for key in ("metric", "value", "unit", "queries", "sf",
            # round-6 self-normalization fields (BASELINE.md canary
            # protocol): without them a slow driver window is
            # indistinguishable from a plan regression; canary_end +
            # solo_failed (round 7) bracket the solo re-profile too
            "canary_pre", "canary_post", "canary_end",
            "load0", "load1", "solo_max", "solo_failed",
            # round-9: canary-normalized headline + contended-window
            # self-flag + launch-backoff wait (round-8 verdict #1),
            # and the min-of-N timed-pass vector (scheduler-noise
            # robustness: value = min(passes))
            "value_norm", "contended", "waited", "passes",
            # round-10: multi-thread + memory-stream canaries —
            # classify multi-core and memory-bandwidth co-tenancy the
            # single-thread ALU canary is blind to
            "canary_mt_pre", "canary_mt_end",
            "canary_mem_pre", "canary_mem_end",
            # round-10: IN-RUN external-CPU accounting — the fraction
            # of machine CPU other processes consumed DURING the
            # winning pass (ext_cpu) and the worst pass (ext_cpu_max);
            # bracket canaries cannot see mid-run co-tenancy
            "ext_cpu", "ext_cpu_max",
            # round-11: qsum = per-query-sum ground truth (code-vs-
            # window forensics first-class); attested = explicit
            # headline-attestation self-flag; spill_mem/spill_disk =
            # the winning pass's task-metrics spill bytes (the
            # constrained-heap certification as a number)
            "qsum", "attested", "spill_mem", "spill_disk",
            # the session shape that produced the numbers (cores,
            # shuffle, AQE, scan split, layout, buckets, streams,
            # codegen cache): the schedule and defaults depend on it
            "posture"):
    if key not in obj:
        sys.exit(f"TAILPARSE FAIL: parsed JSON missing key {key!r}: {last[:200]}")
# round-12 (verdict item 2): attested certifies repeatability AND
# window cleanliness — an artifact may never wear attested:true while
# self-flagging a dirty window (the BENCH_r11 shape: contended:true,
# canary_post 4.42, attested:true)
if obj["attested"]:
    if obj["contended"]:
        sys.exit("TAILPARSE FAIL: attested:true with contended:true")
    if obj["canary_post"] > 1.30 * 1.25:
        sys.exit(f"TAILPARSE FAIL: attested:true with canary_post "
                 f"{obj['canary_post']} over the 25% reference band")
    if obj["ext_cpu"] > 0.05:
        sys.exit(f"TAILPARSE FAIL: attested:true with ext_cpu "
                 f"{obj['ext_cpu']} (>5% external competitor)")
if len(last) > 1500:
    sys.exit(f"TAILPARSE FAIL: JSON line is {len(last)} chars (>1500 budget — "
             "risks front-truncation in the driver's 2000-char tail)")
print(f"TAILPARSE OK: {len(obj['queries'])} queries, total={obj['value']}{obj['unit']}, "
      f"line={len(last)} chars")
EOF
