#!/usr/bin/env bash
# One-command matched-window suite: Spark bench + DuckDB oracle pair +
# per-query-join ratio, all against the SAME sf dir in the SAME machine
# window (VERDICT r11, Next round #7 — removes the which-BENCH-pairs-
# with-which-DUCK ambiguity; the three artifacts share a tag).
#
# Usage: tools/run_suite.sh [sfDir] [tag] [reps]
#   sfDir  default /root/testdata/sf0.1
#   tag    default rNN_local (artifact names: BENCH_<tag>.json,
#          DUCK_<tag>.json, RATIO_<tag>.json — committed at repo root)
#   reps   default 3 (flagships and expensive queries; sub-second suite
#          queries self-cap at 2 via timeAdaptive)
#
# Cores: SPARK_GRAFT_CPUS when the caller exports it, else nproc
# (graft.GraftSession.defaultCpus).
#
# The DuckDB side times the SAME oracle SQL the correctness gate runs,
# with full materialization (fetchall ≈ Spark's noop sink). The ratio is
# computed over the per-query JOIN of the two "queries" maps — never
# totals over different query sets.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.1}"
TAG="${2:-local_$(date +%m%d_%H%M)}"
REPS="${3:-3}"

BENCH_OUT="BENCH_${TAG}.json"
DUCK_OUT="DUCK_${TAG}.json"
RATIO_OUT="RATIO_${TAG}.json"

echo "[suite] 1/4 oracle dump (fast single-query Verify run)"
sbt -batch "runMain graft.Verify $SF_DIR /tmp/suite_oracle q_topk" >/dev/null

echo "[suite] 2/4 Spark bench -> $BENCH_OUT (flagships first)"
SPARK_GRAFT_SF_DIR="$SF_DIR" \
  SPARK_GRAFT_BENCH_REPS="$REPS" SPARK_GRAFT_BENCH_OUT="$BENCH_OUT" \
  sbt -batch "runMain graft.Bench" | grep '"metric"' || true

# resolve a duckdb-capable python: the first python3 on PATH may be a
# conda one without duckdb (the driver installs it under pyenv)
PY=python3
if ! "$PY" -c 'import duckdb' >/dev/null 2>&1; then
  PY=/root/.pyenv/shims/python3
fi
"$PY" -c 'import duckdb' >/dev/null 2>&1 || {
  echo "[suite] no python with duckdb found" >&2; exit 1; }

echo "[suite] 3/4 DuckDB pair -> $DUCK_OUT (same window, same sf)"
"$PY" tools/time_duckdb.py "$SF_DIR" /tmp/suite_oracle/oracle_sql.json \
  "$REPS" > "$DUCK_OUT"

echo "[suite] 4/4 matched-window ratio -> $RATIO_OUT"
"$PY" - "$BENCH_OUT" "$DUCK_OUT" "$RATIO_OUT" <<'EOF'
import json, sys
bench = json.load(open(sys.argv[1]))
duck = json.load(open(sys.argv[2]))
bq = {k: v for k, v in bench["queries"].items() if v >= 0}
dq = duck["queries"]
common = sorted(set(bq) & set(dq))
sp = sum(bq[k] for k in common)
du = sum(dq[k] for k in common)
per = {k: round(bq[k] / dq[k], 3) if dq[k] > 0 else None for k in common}
worst = sorted(((v, k) for k, v in per.items() if v), reverse=True)[:10]
out = {
    "common_queries": len(common),
    "spark_sec": round(sp, 2),
    "duckdb_sec": round(du, 2),
    "ratio": round(sp / du, 3) if du > 0 else None,
    "bench_file": sys.argv[1],
    "duck_file": sys.argv[2],
    "sf": duck.get("sf"),
    "worst10": [{"query": k, "ratio": v} for v, k in worst],
    "per_query_ratio": per,
}
json.dump(out, open(sys.argv[3], "w"), indent=1)
print(f"[suite] ratio over {len(common)} common queries: "
      f"{out['ratio']}x (spark {out['spark_sec']}s / duck {out['duckdb_sec']}s)")
EOF
echo "[suite] done: $BENCH_OUT $DUCK_OUT $RATIO_OUT"
