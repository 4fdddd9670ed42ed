#!/usr/bin/env python3
"""Merge a graft.Bench JSON line and a duckdb_bench.py JSON into the
committed bench/sf{N}.json side-by-side artifact.

Usage: merge_bench.py <spark.json> <duck.json> <out.json> <sf> "<generated note>"

The comparable set is the intersection of successfully-measured queries
(value >= 0) present in BOTH engines, excluding the bench's `_bucketed`
plan variants (those are recorded separately under bucketed_variants)
and the NON_COMPARABLE set (recorded under non_comparable): q52's gate
shape fixes a 100-vector candidate block, so at replicated SFs both
engines run a constant-size workload and the ratio measures the JVM
per-query session floor, not the operator (q59 carries the scaling
coverage for embedding near-dup). `comparable_ex_q57` repeats the
rollup without q57_quality_signals, the one query where Spark is
multiples FASTER than DuckDB — committed so the headline ratio can be
read without the flattering outlier.
"""
import json, sys

# Mirrors graft.Bench's nonComparable set (Bench.scala).
NON_COMPARABLE = {"q52_embedding_near_dup"}

# Excluded from the comparable ROLLUPS (still recorded per query, and
# echoed under excluded_outliers): every campaign skips q47 on both
# engines by default (quadratic near-dup volume at replicated SFs), so
# the rollup was historically a q47-less intersection. The r19 driver's
# duck passes ran q47 at sf0.1 (DuckDB ~793 s vs Spark ~0.37 s — the
# oracle SQL re-shingles per candidate pair), and a ~2000x outlier in a
# 27-query sum flips the headline ratio to 0.01 — meaningless in exactly
# the way comparable_ex_q57 exists to avoid for the 2.4x q57 outlier.
# Rollups must stay sums of same-order floor-dominated queries.
OUTLIER_EXCLUDED = {"q47_minhash_lsh_neardup"}

spark = json.load(open(sys.argv[1]))
duck = json.load(open(sys.argv[2]))
out_path, sf, note = sys.argv[3], sys.argv[4], sys.argv[5]

sq = {k: v for k, v in spark["queries"].items() if v is not None and v >= 0}
dq = {k: v for k, v in duck["queries"].items() if v is not None and v >= 0}
comparable = sorted(k for k in sq if k in dq and not k.endswith("_bucketed")
                    and k not in NON_COMPARABLE and k not in OUTLIER_EXCLUDED)

def rollup(keys):
    s = sum(sq[k] for k in keys); d = sum(dq[k] for k in keys)
    return {"n": len(keys), "spark_sec": round(s, 2), "duckdb_sec": round(d, 2),
            "ratio": round(s / d, 2) if d else None}

bucketed = {}
for k, v in sq.items():
    if k.endswith("_bucketed") and k[:-9] in sq:
        bucketed[k[:-9]] = {"plain": sq[k[:-9]], "bucketed": v}

art = {
    "sf": float(sf) if "." in sf else int(sf),
    "generated": note,
    "recipe": ("python3 tools/make_sf.py /root/testdata/sf0.1 /tmp/sf%s %d  "
               "# engines SEQUENTIAL on an idle box; 1 cold + 3 timed warm runs, median"
               % (sf, int(float(sf) * 10))),
    # Drop null (skipped) entries from the stored maps — skips are
    # already named in "skipped", and graft.Bench echoes these artifacts
    # into its stdout tail, where a null entry reads as a missing
    # measurement in the driver's round artifact (BENCH_r10 carried a
    # misleading q47 null). Errored queries (value -1) stay visible.
    "spark": {"warm_runs": 3, "warm_stat": "median",
              "skipped": sorted(spark.get("skipped", [])),
              # carried through so the committed artifact keeps any
              # single-query re-measure recorded in its input (which value
              # was replaced, by what, and how); the one-off patcher that
              # wrote these lists into past artifacts has been retired
              **({"patched": spark["patched"]} if "patched" in spark else {}),
              "queries": {k: v for k, v in spark["queries"].items()
                          if v is not None}},
    "duckdb": {"engine_version": duck.get("version", duck.get("engine_version", "1.0.0")),
               "warm_runs": 3, "warm_stat": "median",
               "skipped": sorted(duck.get("skipped", [])),
               **({"patched": duck["patched"]} if "patched" in duck else {}),
               "queries": {k: v for k, v in duck["queries"].items()
                           if v is not None}},
    "comparable": rollup(comparable),
    "non_comparable": {k: {"spark": sq.get(k), "duckdb": dq.get(k),
                           "why": "fixed-size workload at replicated SFs; "
                                  "ratio measures the per-query session "
                                  "floor, not the operator (scaling "
                                  "coverage: q59)"}
                       for k in sorted(NON_COMPARABLE) if k in sq or k in dq},
    "bucketed_variants": bucketed,
    # Self-explaining pointer for readers who open this artifact at the
    # worst plain ratios (q28/q05 at sf100): the plain number measures the
    # key re-shuffle a bucketed lake never pays. At 100 TB the table is
    # bucketed ONCE at ingest and every orderkey/custkey join after is
    # exchange-free, so the deployed-layout number for these queries is
    # the bucketed_variants entry / the comparable_bucketed_ingest rollup,
    # not the plain one.
    "layout_note": {
        "applies_to": sorted(bucketed),
        "note": ("plain timings for these queries include a shuffle that a "
                 "bucketed-at-ingest layout eliminates; the deployed-layout "
                 "number is in bucketed_variants and the "
                 "comparable_bucketed_ingest rollup"),
    },
    "comparable_ex_q57": rollup([k for k in comparable if k != "q57_quality_signals"]),
    # The pair itself stays visible: measured on both engines, excluded
    # from the sums only because a 3-orders-of-magnitude outlier makes a
    # 27-query sum read as that one query.
    "excluded_outliers": {k: {"spark": sq.get(k), "duckdb": dq.get(k),
                              "ratio": (round(sq[k] / dq[k], 5)
                                        if k in sq and dq.get(k) else None),
                              "why": "~2000x Spark-favoring outlier; rollup "
                                     "would stop measuring the other queries"}
                          for k in sorted(OUTLIER_EXCLUDED)
                          if k in sq and k in dq},
}

# The ingest-reality headline: same comparable set, but each query runs
# against the bucketed layout when one exists (a 100 TB lake pays the
# bucketing once at ingest; every custkey/orderkey join after is
# exchange-free). DuckDB keeps its plain (already zero-exchange) numbers
# — the comparison is engine-vs-engine on the layout each would actually
# deploy.
_bs = sum(sq.get(k + "_bucketed", sq[k]) for k in comparable)
_bd = sum(dq[k] for k in comparable)
art["comparable_bucketed_ingest"] = {
    "n": len(comparable),
    "substituted": sorted(k for k in comparable if (k + "_bucketed") in sq),
    "spark_sec": round(_bs, 2), "duckdb_sec": round(_bd, 2),
    "ratio": round(_bs / _bd, 2) if _bd else None,
}
json.dump(art, open(out_path, "w"), indent=1)
print(out_path, art["comparable"], art["comparable_ex_q57"])
