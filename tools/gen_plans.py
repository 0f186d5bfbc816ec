#!/usr/bin/env python
"""Regenerate PLANS.md — physical-plan facts for the headline queries.

For each bench headline query: shuffle-exchange count, broadcast joins,
cartesian products, scans with their pushed filters and read schemas.
The point is reviewability: the 100 TB story is a property of the PLAN,
and this file makes it diffable. Run from the repo root:

    python tools/gen_plans.py > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

# a txlog scan pushes its live-file list as ``In(path, [data/<dir>/part-…``;
# the directory and file ids are random per write
_TXLOG_FILE = re.compile(r"data/[0-9a-f]{32}/(part-\d+)-[0-9a-f-]{36}")
_PATH_IN = re.compile(r"In\(path, \[([^\]]*)")


def _stable(pushed: str) -> str:
    """Mask the random ids of a pushed txlog file list (one entry per
    file is kept) and sort it, so regeneration is byte-stable."""

    def mask(m: re.Match) -> str:
        files = [
            _TXLOG_FILE.sub(r"data/<id>/\1-<id>", f)
            for f in m.group(1).split(",")
        ]
        return "In(path, [" + ",".join(sorted(files))

    return _PATH_IN.sub(mask, pushed)


def main() -> None:
    from data_mastery_pipeline_spark.allqueries import register_all

    register_all()  # every queries*.py — no per-tool list to drift
    from bench import HEADLINE
    from data_mastery_pipeline_spark import plans
    from data_mastery_pipeline_spark.registry import QUERIES
    from data_mastery_pipeline_spark.session import get_spark

    spark = get_spark(app_name="gen_plans", shuffle_partitions=8)

    print("# PLANS — physical-plan facts for the bench headline queries")
    print()
    print("> Generated by `python tools/gen_plans.py > PLANS.md` at sf0.01.")
    print("> Streaming/write-path queries execute during construction and")
    print("> return sink tables — their plan is the (trivial) sink scan, so")
    print("> they are listed without scan detail.")
    print()
    for name in HEADLINE:
        fn = QUERIES.get(name)
        if fn is None:
            # loud, not a silent skip: a renamed/unregistered headline
            # query must not quietly vanish from the plan artifact
            # (review r6 — the repo's no-silent-caps rule applies to
            # its own instrumentation too)
            raise SystemExit(
                f"gen_plans: headline query {name!r} is not registered — "
                "bench.HEADLINE and the query registry have drifted"
            )
        df = fn(spark, SF)
        ex = plans.exchange_count(df)
        bc = plans.broadcast_join_count(df)
        cp = plans.cartesian_product_count(df)
        print(f"## {name}")
        print()
        print(f"- shuffle exchanges: **{ex}**, broadcast joins: **{bc}**, "
              f"cartesian products: **{cp}**")
        pushed = plans.pushed_filters(df)
        schemas = plans.read_schema_columns(df)
        for i, cols in enumerate(schemas):
            pf = _stable(pushed[i]) if i < len(pushed) else ""
            cols_s = ", ".join(cols) if cols else "(partition cols only)"
            print(f"- scan {i}: reads [{cols_s}]" + (f"; pushed: `{pf}`" if pf else ""))
        print()
    print(_EPILOGUE)


# Hand-maintained: why the >2 s bench entries cost what they cost, so a
# reviewer reads the number next to its plan rationale. Lives in this
# script (not PLANS.md) so regeneration preserves it.
_EPILOGUE = """\
## Notes on the >2 s entries (sf0.1, local[32])

- **near_dup_clusters (~5 s)**: edge generation is one pass of the
  md5 set-simhash fold into the checkpointed celled base
  (dedup/cells.celled_base — both join sides read it and apply only
  the cell shift, so the plan has no parquet scan and no fold) plus
  exact-Jaccard verification of the in-cell candidate pairs
  (Σ|cell|², linear in n). The CC loop is ONE distributed round
  (pointer doubling to fixpoint, worst-case O(log diameter)) followed
  by the bounded driver union-find finish once ≤10k edges remain
  (`finish` entry in the detail).
- **minhash_near_dup (~2 s, was 3.8)**: banded-LSH verify stage — the
  exact per-candidate Jaccard check (bucketed, never all-pairs); the
  signature build now fans out across cores on low-split sources
  (parallelism.fan_out).
- **shared_substring_spans (~1.5 s, was 3)**: one data-sized shuffle —
  the k-gram anchor equi-join (grams travel as 8-byte xxhash64); span
  merging is gaps-and-islands over (pair, diagonal), partition-local
  after the join; anchor build fans out (parallelism.fan_out).
- **incremental_minhash_dedup (~3 s)**: builds the arrival batch's
  signatures + band join against the accepted-index band table; the
  band table is the persistable LSH index relation, broadcast at this
  scale (5 broadcasts, 4 exchanges).
- **boilerplate_ngram_share / contamination_check (~2.5 s)**: hashed
  n-gram shuffles with the ≥threshold cut applied before the rejoin;
  the gram relation is reused across both sides of its own shuffle.
- **partitioned_roundtrip (~2 s)**: writes a Hive-partitioned dataset
  then dynamic-partition-prunes it back — the cost IS the write path.
- **edit_near_dups_lsh (~2 s)**: MinHash-LSH over char 4-grams
  generates candidates (sub-quadratic — replaces the brute blocked
  join that grew 34× at 10× data, r10), banded 3-arg
  levenshtein(l, r, 8) verifies — O(|s|·k) early-exit per pair,
  value-identical on kept rows.
- **kafka_wire_roundtrip (~3 s)**: 100k events × (JSON render →
  Produce over TCP → offset-sliced Fetch → JSON parse) — the cost IS
  the socket+codec round trip; both directions executor-parallel
  (32 producer connections, 8 fetch slices).
- **csv_quarantine_roundtrip (~2.5 s)**: the cost is the physical
  round trip (render 100k rows to CSV text, write, re-scan) plus the
  deliberate full-row from_csv parse — the price of
  projection-independent corruption detection; the aggregate itself is
  one exchange.
- **triangle_count (~3 s)**: co-purchase edge build (the lineitem
  self-join on orderkey) dominates; the wedge join itself runs over
  the DEGREE-ORIENTED edge relation (r06: orient low-(degree,id) →
  high, one extra degree aggregate + two broadcast rank joins), so
  wedge fan-out is Σ out-degree² bounded by arboricity
  (Chiba-Nishizeki) instead of unbounded under id-order skew. The
  triangle count is orientation-invariant — the oracle keeps the
  id-ordered SQL, and a test pins both forms equal.
- **kafka_wire_stream_hourly (~7 s)**: the full streaming lifecycle —
  produce 100k events over TCP, readStream micro-batches through the
  wire source (Python-datasource streaming pays per-batch planning
  round trips), complete-mode windowed state commits, memory-sink
  polling. The cost IS the streaming machinery; the batch twin of the
  same aggregate (hourly_agg) runs in ~0.3 s.
- **avro_roundtrip (~4 s at sf0.1)**: row-oriented pure-Python encode +
  decode of 600k values through the from-scratch codec — the
  ingest-edge price (like CSV); the module docstring directs resident
  data to parquet/ORC after one rewrite pass.
- **containment_pairs (~2.5 s)**: one gram-keyed self-join where the
  hot-gram cap rides a WINDOW-over-g df census inside the same plan:
  grams with df > max_gram_df (default 1000) are dropped from BOTH the
  intersection and the denominator — a df-d boilerplate gram otherwise
  emits d² join rows — and the g-partitioned windowed subplan is
  reused (ReusedExchange) by both join sides and the sizes aggregate.
  The cap is mirrored in the oracle; `--containment-hot` in
  tools/scale_probe.py injects shared boilerplate and shows capped
  gram-join rows ~×k vs quadratic uncapped (29× fewer at k=4).
- **txlog_* lifecycle entries (2-7 s)**: each runs a FULL multi-commit
  table lifecycle (create + appends + deletes/updates + optimize +
  reads), not one query — the cost is the physical staging writes plus,
  for the stream entries (stream_feed ~4.5 s, stream_cdf ~6.7 s), the
  Python-datasource micro-batch machinery (per-batch planning round
  trips + Arrow transfer), the same shape as kafka_wire_stream_hourly.
  Metadata ops (commit, conflict check, as-of resolution) are
  milliseconds; the DV anti-join adds one broadcast probe to reads.
- **near_dup_clusters adjudication (r06, VERDICT task 4)**: min-of-3 =
  6.3 s under decaying background load, 7.2/7.5/6.3 across runs —
  stable, not a regression; pointer doubling to fixpoint + bounded
  driver finish stays (the worst-case O(log d) guarantee is worth ~1 s
  at sf0.1).
"""

if __name__ == "__main__":
    main()
