"""Regenerate docs/PLANS.md: `.explain("formatted")` captures of the
flagship operators with what-to-look-for notes. Run after changing any
operator's plan shape (tests/test_plans.py pins the invariants; this doc
shows the full plans to a reviewer)."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tsv_utils_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

NOTES = {
    "filter_numeric":
        "predicate pushdown + column pruning into the parquet scan",
    "join_append":
        "filter side deduped then BroadcastExchange; probe side never "
        "shuffles",
    "summarize_basic":
        "ONE hash-partitioning exchange; partial HashAggregate before it "
        "(map-side combine), final after",
    "sample_topk_det":
        "reservoir compiles to TakeOrderedAndProject: per-partition heaps "
        "+ driver merge, no global sort",
    "hll_unique_count":
        "two-level sketch plan: mapInArrow partials inside the scan "
        "stage, only (key, blob) rows cross the exchange; the merge is "
        "Sort + one MapInArrow over key runs, not a per-group pandas UDF",
    "sample_replacement_det":
        "exact-N multinomial: the n draws reduce to (idx, multiplicity) "
        "and BROADCAST onto the numbered rows — undrawn rows never move",
    "events_hourly":
        "tumbling event-time window is just a grouping expression — "
        "same partial/final aggregate shape as any groupBy",
    "uniq_wholeline":
        "whole-line dedup with auto input-order: the scan carries "
        "_metadata (file, row_index) — order costs no shuffle",
    "join_salted":
        "skew-salted join: the join condition carries (key, __salt) so a "
        "hot key fans out across salt reducers; the big side never "
        "shuffles (tiny stats side aggregates + broadcasts)",
    "sample_weighted_det":
        "weighted A-Res reservoir: u^(1/w) score still compiles to "
        "TakeOrderedAndProject — no global sort, no Python",
    "format_number":
        "formatNumber output rules as a pure codegen projection: zero "
        "exchanges, zero Python",
    "ngram_jaccard_pairs":
        "exact n-gram Jaccard verify: shingles built by JVM "
        "split/slice/array_join, set algebra by array_intersect/union — "
        "no Python anywhere",
    "text_gopher_quality":
        "all Gopher quality rules in ONE codegen projection: single "
        "scan, zero exchanges, zero Python",
    "scrub_pii":
        "sequential regexp redaction chain: pure projection, the "
        "patterns replay identically in RE2 engines",
    "code_salted_stats":
        "explicit-salt two-level sketch plan over the Zipf repo key: "
        "exactly two bounded-fan-out exchanges — (repo, salt) for the "
        "partials, repo for the final merge; the mega-repo's rows "
        "spread across all 16 salt reducers",
    "cm_mode_day":
        "typed count-min over a DATE key: to_date stays in the scan "
        "projection, the Arrow kernel dictionary-encodes date32 "
        "directly, and the finalized mode is a real DATE column",
    "sample_token_budget_nomat":
        "deterministic hex-bucket budget prefix: no localCheckpoint "
        "scan (ExistingRDD) anywhere — placement is a pure function of "
        "the data; dead buckets are filtered BEFORE the exchange",
    "join_bucketed":
        "bucketed big-big join (captured with auto-broadcast off — at "
        "sf0.001 the dim is tiny enough that the planner correctly "
        "prefers a broadcast join and auto-disables the bucketed scan): "
        "SortMergeJoin with ZERO Exchange on either side",
    "pipeline_e2e":
        "the FLAGSHIP four-stage pipeline (quality -> exact dedup -> "
        "decontaminate -> token budget) fused into one logical plan: a "
        "single parquet scan feeds three stacked broadcast semi/anti "
        "joins, ONE exchange (budget bucketing), and no Python until "
        "the final budget stage",
    "pack_segments_det":
        "sequence packing: distributed int64 prefix sum (hex-bucket "
        "offsets, one exchange) then a pure-Catalyst "
        "explode(sequence(first,last)) — slice arithmetic entirely in "
        "codegen, no Python after the cumsum stage",
}

# per-query session conf overrides for the capture (restored after)
CONF_OVERRIDES = {
    "join_bucketed": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
}


def main() -> None:
    spark = get_spark("plans", cores=4, shuffle_partitions=4)
    qs = entrymod.queries()
    out = [
        "# Physical plans — flagship operators (`.explain(\"formatted\")`)",
        "",
        "Captured at sf0.001, local[4] (regenerate: `python tools/"
        "gen_plans.py`). What to look for is noted per plan; these are "
        "the plans the engine is DESIGNED to produce — "
        "tests/test_plans.py pins the load-bearing properties.",
    ]
    for name, note in NOTES.items():
        overrides = CONF_OVERRIDES.get(name, {})
        saved = {k: spark.conf.get(k) for k in overrides}
        for k, v in overrides.items():
            spark.conf.set(k, v)
        try:
            df = qs[name](spark, SF)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        out += ["", f"## {name}", "", f"*{note}*", "", "```",
                buf.getvalue().rstrip(), "```"]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote docs/PLANS.md with {len(NOTES)} plans")


if __name__ == "__main__":
    main()
