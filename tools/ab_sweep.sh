#!/usr/bin/env bash
# A/B CONTROL SWEEP — BASELINE.md round-17 addendum 1, consequence #3,
# as tooling instead of prose (round-17 verdict "what's missing" #4):
# any re-anchor (and any cross-build perf claim) must carry a same-day
# INTERLEAVED control sweep of a prior build against the working tree,
# so host drift (identical builds differ 10-25 % day to day) can never
# masquerade as a build-side regression or improvement.
#
# Usage:
#   tools/ab_sweep.sh <control-commit> <rounds> [query ...]
#
#   control-commit  git ref of the CONTROL build (A); the working
#                   tree's current compiled classes are B
#   rounds          interleaved A,B pairs to run (addendum 1 used 8)
#   query ...       restricted common query set passed to graft.Bench
#                   (default: a 10-query cross-family anchored set)
#
# Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
# SPARK_GRAFT_CPUS (default: this host's `nproc`). Each Bench JVM gets
# half of MemTotal as heap, clamped to 2-8 GiB (the tier-1 sizing).
#
# Output: per-run rows on stderr; ONE JSON line on stdout —
#   {"metric":"ab_sweep","control":"<sha>","rounds":N,
#    "a_totals_s":[...],"b_totals_s":[...],
#    "a_median_s":X,"b_median_s":Y,"b_over_a":Z,
#    "loadavg_before":L0,"loadavg_after":L1,"queries":[...]}
# Classification discipline (addendum 1): b_over_a within the sweep's
# own p10-p90 per-query band => ENVIRONMENT; outside => BUILD. The
# interleaving is what makes the comparison valid — never compare two
# sweeps run at different times.
set -euo pipefail

CONTROL="${1:?usage: ab_sweep.sh <control-commit> <rounds> [query ...]}"
ROUNDS="${2:?usage: ab_sweep.sh <control-commit> <rounds> [query ...]}"
shift 2
QUERIES=("$@")
if [ ${#QUERIES[@]} -eq 0 ]; then
  # cross-family anchored default: scan/agg, window, join tree, dedup,
  # ANN, BM25, as-of, streaming-batch twin, writer, text
  QUERIES=(q01_pricing_summary q13_window_rank q54_market_share
    d03_minhash_lsh s04_knn_ivf s12_bm25_lexical a01_asof_join
    d12_incremental_neardup w07_ann_index t03_token_count)
fi

REPO="$(cd "$(dirname "$0")/.." && pwd)"
SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

loadavg() { cut -d' ' -f1 /proc/loadavg; }

# --- build both sides once -------------------------------------------------
CTRL_SHA="$(git -C "$REPO" rev-parse --short "$CONTROL")"
# the control builds in a throwaway clone (objects shared with REPO),
# so the sweep registers no worktree in REPO and leaves no checkout
WORK="$(mktemp -d)"
CTRL_WT="$WORK/control"
trap 'rm -rf "$CTRL_WT"' EXIT
git clone -q --shared --no-checkout "$REPO" "$CTRL_WT" >&2
git -C "$CTRL_WT" checkout -q --detach "$(git -C "$REPO" rev-parse "$CONTROL")" >&2
echo "[ab] compiling control $CTRL_SHA in $CTRL_WT" >&2
(cd "$CTRL_WT" && sbt -batch compile >/dev/null 2>&1)
echo "[ab] compiling working tree (B)" >&2
(cd "$REPO" && sbt -batch compile >/dev/null 2>&1)

# JVM stderr goes to a per-invocation log, NOT /dev/null: a failing
# round (missing fixture, OOM, a query name the CONTROL build does not
# register — Bench now fails loudly on unknown args) used to abort the
# sweep under set -e with zero diagnostic after potentially hours of
# interleaved runs (round-18 review finding).
ABLOG="$WORK/ab_sweep.log"
echo "[ab] per-run JVM stderr -> $ABLOG (heap $HEAP," \
  "$SPARK_GRAFT_CPUS cores)" >&2

run_one() { # $1 = cwd (also classes root), prints total seconds
  local d="$1"
  (cd "$d" && SPARK_GRAFT_SF_DIR="$SF_DIR" \
    java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      "-Xmx$HEAP" -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
      graft.Bench "${QUERIES[@]}" 2>>"$ABLOG" | grep -o '"value":[0-9.]*' \
      | head -1 | cut -d: -f2)
}

L0="$(loadavg)"
A_TOTALS=(); B_TOTALS=()
for i in $(seq 1 "$ROUNDS"); do
  a="$(run_one "$CTRL_WT")"; echo "[ab] round $i A(control)=$a s" >&2
  b="$(run_one "$REPO")";    echo "[ab] round $i B(head)   =$b s" >&2
  A_TOTALS+=("$a"); B_TOTALS+=("$b")
done
L1="$(loadavg)"

python3 - "$CTRL_SHA" "$ROUNDS" "$L0" "$L1" \
  "$(IFS=,; echo "${A_TOTALS[*]}")" "$(IFS=,; echo "${B_TOTALS[*]}")" \
  "$(IFS=,; echo "${QUERIES[*]}")" <<'PY'
import json, statistics, sys
sha, rounds, l0, l1, a_s, b_s, qs = sys.argv[1:8]
a = [float(x) for x in a_s.split(",")]
b = [float(x) for x in b_s.split(",")]
am, bm = statistics.median(a), statistics.median(b)
print(json.dumps({"metric": "ab_sweep", "control": sha,
  "rounds": int(rounds), "a_totals_s": a, "b_totals_s": b,
  "a_median_s": round(am, 2), "b_median_s": round(bm, 2),
  "b_over_a": round(bm / am, 4),
  "loadavg_before": float(l0), "loadavg_after": float(l1),
  "queries": qs.split(",")}))
PY
