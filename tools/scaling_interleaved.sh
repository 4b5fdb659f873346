#!/usr/bin/env bash
# Drift-robust two-cluster-size scaling protocol (round-5 VERDICT #3):
# instead of measuring all 1x4 runs then all 4x4 runs (host-load drift
# lands entirely on one side and flips families across the 0.8 bar),
# INTERLEAVE the two sizes — A/B, A/B, A/B — and report the MEDIAN of
# the per-pair efficiencies, so slow drift cancels pairwise.
#
#   tools/scaling_interleaved.sh                 # all six families, 3 pairs
#   tools/scaling_interleaved.sh extract 3       # one family
#   tools/scaling_interleaved.sh all 5           # more pairs
#
# Output: one line per submit (the ClusterBench JSON) plus a final
# per-family summary with the per-pair efficiencies and their median.
set -euo pipefail
cd "$(dirname "$0")/.."

FAMILY="${1:-all}"
PAIRS="${2:-3}"
NDOCS="${3:-2000000}"
# corpus dirs are suffixed by size so 2M and 4M runs coexist: the
# iterative families carry a ~17-20s fixed serial cost (per-round
# driver sync) that only amortizes at larger corpora — measuring both
# sizes is the Amdahl evidence, not a retry. The suffix must encode
# the size EXACTLY (gen() skips an existing dir): floor-division would
# silently reuse e.g. the 2M corpus for a 2.5M request.
if [ $((NDOCS % 1000000)) -eq 0 ] && [ "$NDOCS" -ge 1000000 ]; then
  SFX="$((NDOCS / 1000000))m"
else
  SFX="$NDOCS"
fi
JAR=target/scala-2.13/ocrpipelinespark_2.13-0.1.0.jar
PGC="spark.executor.extraJavaOptions=-XX:+UseParallelGC -XX:ParallelGCThreads=4"
OUT="${SPARK_GRAFT_SCALING_OUT:-/tmp/graft_bench/interleaved.jsonl}"
CLUSTER_RUNS="${SPARK_GRAFT_CLUSTER_RUNS:-2}"

sbt -batch package >/dev/null
mkdir -p "$(dirname "$OUT")"; : > "$OUT"

gen() { # path format
  if [ ! -d "$1" ]; then
    SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.GenCorpus $1 $NDOCS skewed 128 $2" | grep '"metric"'
  fi
}

submit() { # master label input job conf runs
  # executor memory must be set EXPLICITLY: local-cluster[n,c,8192]
  # caps the WORKER at 8 GB but executors still get the 1 GB default,
  # and the 4M-doc cluster family OOMs there (the src-partitioned edge
  # cache concentrates a skewed corpus's hub keys in few partitions).
  # 6 GB heap + overhead fits the 8 GB worker allowance.
  # stderr goes to a sidecar log (labeled), not /dev/null: the
  # [graft.cc] phase/round diagnostics are the only way to attribute a
  # slow leg after the fact (host burst vs plan change)
  { echo "=== $2 $(date -u +%H:%M:%S) loadavg=$(cut -d' ' -f1-3 /proc/loadavg)" \
      >> "${OUT%.jsonl}.stderr.log"; } 2>/dev/null || true
  SPARK_GRAFT_BENCH_RUNS="$6" /opt/spark/bin/spark-submit --master "$1" \
    --driver-memory 4g --conf spark.executor.memory=6g \
    ${5:+--conf "$5"} \
    --class graft.ClusterBench "$JAR" "$3" "$2" "$4" \
    2>>"${OUT%.jsonl}.stderr.log" | grep '"metric"' | tee -a "$OUT"
}

family() { # name input job conf runs
  local name="$1" input="$2" job="$3" conf="${4:-}" runs="${5:-4}"
  for p in $(seq 1 "$PAIRS"); do
    submit "local-cluster[1,4,8192]" "${name}_p${p}_n1x4" "$input" "$job" "$conf" "$runs"
    submit "local-cluster[4,4,8192]" "${name}_p${p}_n4x4" "$input" "$job" "$conf" "$runs"
  done
}

gen "/tmp/graft_bench/spans$SFX" spans
if [ "$FAMILY" = "all" ] || [ "$FAMILY" = "extract" ]; then
  family extract "/tmp/graft_bench/spans$SFX" extract "" 4
fi
if [ "$FAMILY" = "all" ] || [ "$FAMILY" = "parse" ]; then
  # xmlbin*: the xml table holds binary ALTO bytes; an older xml$SFX
  # dir holds strings, which the parse job cannot read (gen skips it)
  gen "/tmp/graft_bench/xmlbin$SFX" xml
  family parse "/tmp/graft_bench/xmlbin$SFX" parse "$PGC" 4
fi
if [ "$FAMILY" = "all" ] || [ "$FAMILY" = "dedup" ]; then
  family dedup "/tmp/graft_bench/spans$SFX" dedup "$PGC" 4
fi
if [ "$FAMILY" = "all" ] || [ "$FAMILY" = "pdf" ]; then
  gen "/tmp/graft_bench/pdf$SFX" pdf
  family pdf "/tmp/graft_bench/pdf$SFX" pdf "$PGC" 4
fi
if [ "$FAMILY" = "all" ] || [ "$FAMILY" = "cluster" ]; then
  family cluster "/tmp/graft_bench/spans$SFX" cluster "$PGC" "$CLUSTER_RUNS"
fi
if [ "$FAMILY" = "all" ] || [ "$FAMILY" = "curate" ]; then
  family curate "/tmp/graft_bench/spans$SFX" curate "$PGC" "$CLUSTER_RUNS"
fi
if [ "$FAMILY" = "all" ] || [ "$FAMILY" = "exactsubstr" ]; then
  # per-token intermediate (heaviest shuffle bytes per doc of any
  # family) — best-of-2 like the other composite jobs
  family exactsubstr "/tmp/graft_bench/spans$SFX" exactsubstr "$PGC" "$CLUSTER_RUNS"
fi

python3 - "$OUT" <<'EOF'
import json, re, sys, statistics
rows = [json.loads(l) for l in open(sys.argv[1]) if '"cluster-bench"' in l]
fams = {}
for r in rows:
    m = re.match(r"(\w+)_p(\d+)_(n1x4|n4x4)", r["label"])
    if not m:
        continue
    fams.setdefault(m.group(1), {}).setdefault(int(m.group(2)), {})[m.group(3)] = r["docs_per_sec"]
print("\nfamily        per-pair efficiency            median")
for fam, pairs in fams.items():
    effs = [round(v["n4x4"] / v["n1x4"] / 4, 3)
            for _, v in sorted(pairs.items()) if "n1x4" in v and "n4x4" in v]
    med = statistics.median(effs) if effs else float("nan")
    flag = "OK " if med >= 0.8 else "MISS"
    print(f"{fam:12}  {str(effs):28}  {med:.3f}  {flag}")
EOF
