#!/usr/bin/env bash
# Solo steady-state bench ledger, one command (VERDICT r12 #8).
#
# Runs `graft.Bench --solo <query>` once per query PER JVM (the solo
# protocol: warm-up + N isolated samples, no cross-query JVM state),
# then merges the per-query summary lines into one JSON artifact whose
# schema matches BENCH_SOLO_r12.json's `queries.<q>.<sf>` rows.
# Round-over-round comparisons read THIS artifact, not the contended
# same-session ledger (BENCH_LOCAL.json) — see SURVEY §8 "canonical
# ledger" note.
#
# Usage:
#   tools/solo_bench.sh <classes-dir> <out.json> [samples]
# Env:
#   SPARK_GRAFT_SF_DIR   corpus dir (default /root/testdata/sf0.1)
#   SOLO_QUERIES         space-separated override of the fixed set
#   SOLO_SF1_QUERIES     override of the sf1 autosizer legs ("" skips)
#   SOLO_SF1_DIR         derived sf1 corpus dir (default /tmp/sf1_de;
#                        derived on first use, reused after)
#   SPARK_DRIVER_MEM     heap (default 16g)
#   SPARK_GRAFT_CPUS     Bench's local[N] (default: every core)
#
# The fixed set = the 6 slowest sf0.1 queries of the r14 full ledger
# (the suite gained s16_wide_lake_roundtrip and
# dedup_cc_verified_star_rescue this round, both of which enter the
# slowest-6) plus two drift-watch rows (p3_book_ticker_exprs drifted
# r12; mb_canonical_build is the API-latency representative, solo-
# pinned since r13), plus — r18, VERDICT r17 #1 — the two rows whose
# driver-ledger drift had no solo arbiter: j9_star_join_revenue
# (+54% in the r17 driver run, settled as box by the r18 A/B) and
# htf_aggregate_1mo (the calendar-frame representative), plus — r19,
# VERDICT r18 #5 — the engine tier's two heaviest rows
# (s18_gated_tick_roundtrip, s19_capped_drain_roundtrip): the tier is
# >50% of bench wall and its drift previously had no solo arbiter.
#
# r20 (VERDICT r19 #2): the two sf1 AUTOSIZER legs are part of the
# FIXED set — ann_lsh_autosize and dedup_minhash_autosize at sf1 are
# the only rows that exercise the banding/plane geometry switches at
# the corpus size where they actually switch; r18 ran them once as a
# one-off and the channel went dark in r19. The sf1 corpus is the
# standard documents,embeddings ScaleProbe derivation (perf-only
# data); it is derived into SOLO_SF1_DIR on first use and reused.
set -euo pipefail

CLASSES="${1:?usage: solo_bench.sh <classes-dir> <out.json> [samples]}"
OUT="${2:?usage: solo_bench.sh <classes-dir> <out.json> [samples]}"
SAMPLES="${3:-8}"
SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
MEM="${SPARK_DRIVER_MEM:-16g}"
QUERIES="${SOLO_QUERIES:-s16_wide_lake_roundtrip dedup_cc_incremental \
dedup_cc_verified_incremental dedup_cc_verified_star_rescue \
dedup_cc_autosize dedup_cc_verified_star \
mb_canonical_build p3_book_ticker_exprs \
j9_star_join_revenue htf_aggregate_1mo \
s18_gated_tick_roundtrip s19_capped_drain_roundtrip}"
SF1_QUERIES="${SOLO_SF1_QUERIES-ann_lsh_autosize dedup_minhash_autosize}"
SF1_DIR="${SOLO_SF1_DIR:-/tmp/sf1_de}"

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

TMP="$(mktemp -d /tmp/solo_bench.XXXXXX)"
trap 'rm -rf "$TMP"' EXIT

# one query per JVM against one corpus; summary JSON is the process's
# last stdout line; temp files keyed <query>@<sfkey> so one query can
# carry rows at multiple scale factors
run_leg() {
  local q="$1" sfdir="$2"
  local sfkey; sfkey="$(basename "${sfdir%/}")"
  echo "[solo-bench] $q (${SAMPLES} samples, sf=$sfdir)" >&2
  SPARK_GRAFT_SF_DIR="$sfdir" java -Xmx"$MEM" $ADD_OPENS \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CLASSES:/opt/spark/jars/*" graft.Bench --solo "$q" "$SAMPLES" \
    2>"$TMP/$q@$sfkey.err" | tail -1 > "$TMP/$q@$sfkey.json" || {
      echo "[solo-bench] $q@$sfkey FAILED (rc=$?); stderr tail:" >&2
      tail -5 "$TMP/$q@$sfkey.err" >&2
    }
}

for q in $QUERIES; do
  run_leg "$q" "$SF"
done

if [ -n "$SF1_QUERIES" ]; then
  if [ ! -d "$SF1_DIR/documents.parquet" ] || [ ! -d "$SF1_DIR/embeddings.parquet" ]; then
    echo "[solo-bench] deriving sf1 corpus (documents,embeddings) at $SF1_DIR" >&2
    java -Xmx"$MEM" $ADD_OPENS -Dspark.ui.enabled=false \
      -cp "$CLASSES:/opt/spark/jars/*" graft.tools.ScaleProbe \
      /root/testdata/sf0.1 "$SF1_DIR" 10 documents,embeddings \
      2>"$TMP/scaleprobe.err" || {
        echo "[solo-bench] sf1 derivation FAILED; stderr tail:" >&2
        tail -5 "$TMP/scaleprobe.err" >&2
        exit 1
      }
  fi
  for q in $SF1_QUERIES; do
    run_leg "$q" "$SF1_DIR"
  done
fi

python3 - "$TMP" "$OUT" "$SF" "$SAMPLES" "${SPARK_GRAFT_CPUS:-$(nproc)}" <<'PY'
import json, sys, os, glob
tmp, out, sf, samples, cpus = sys.argv[1:6]
queries = {}
for f in sorted(glob.glob(os.path.join(tmp, '*.json'))):
    base = os.path.basename(f)[:-len('.json')]
    sfkey = base.rsplit('@', 1)[1] if '@' in base else os.path.basename(sf.rstrip('/'))
    try:
        d = json.loads(open(f).read().strip() or '{}')
    except json.JSONDecodeError:
        continue
    if d.get('metric') != 'solo':
        continue
    queries.setdefault(d['query'], {})[sfkey] = {
        k: d[k] for k in ('median', 'min', 'max', 'samples')}
doc = {
    'protocol': f'Bench --solo per query per JVM (warm-up + {samples} isolated samples), quiet box, local[{cpus}]',
    'sf_dir': sf,
    'queries': queries,
}
with open(out, 'w') as fh:
    json.dump(doc, fh, indent=1)
print(f'[solo-bench] wrote {out}: {sum(len(v) for v in queries.values())} rows', file=sys.stderr)
PY
