"""Regenerate docs/PLANS.md: verbatim ``explain("formatted")`` output for
the plan-shape-critical queries, with one line on what to look for. This is
the evidence trail for the optimizations the repo claims (pushdown, column
pruning, single UDF crossing, no cross products, broadcast joins).

Usage: python tools/dump_plans.py [sf_dir [out_path]]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (query, what the plan proves)
SHOWCASE = [
    ("synth_filter", "one MapInArrow node (the single scoring crossing) "
     "under the keep filter, never cloned, and no ArrowEvalPython: reasons "
     "and keep come out of the crossing, and no Project renders a rule; "
     "html projected away below it, zero Exchange"),
    ("quality_drop_summary", "conditional-sum aggregation: partial_ "
     "aggregates before the single-row exchange (map-side combine), no "
     "Generate/explode"),
    ("top_customers", "BroadcastHashJoin on the dimension tables; "
     "PushedFilters reach the parquet scans"),
    ("asof_join_events", "NO join node at all — union + one Window "
     "exchange is the whole as-of join"),
    ("time_range_join_events", "SortMergeJoin/ShuffledHashJoin on "
     "(user_id, bucket) — an interval join with no "
     "CartesianProduct/BroadcastNestedLoopJoin"),
    ("minhash_lsh_pairs", "one ArrowEvalPython per self-join branch "
     "(signatures and shingle hashes from one tokenisation); the band md5 "
     "keys computed once, in the Project over its output (no Filter "
     "re-evaluates them); one Window bucket-cap per branch"),
    ("salted_event_stats", "two-phase salted aggregation: partial agg on "
     "(key, salt), final agg on key"),
    ("sequence_pack", "one Window exchange per lang; everything else is "
     "project-only"),
    ("quality_strata_approx", "NO Window node (the exact ntile twin sorts "
     "the corpus on one partition): percentile_approx aggregate + "
     "shuffle-free per-row bucket lookup + grouped census"),
    ("line_dedup", "corpus-level line dedup: the duplicate census "
     "partial-aggregates the 60-bit line hash map-side (no line text in "
     "the census exchange); the small dup set comes back as a "
     "BroadcastHashJoin under AQE"),
    ("ngram_novelty", "hash-only novelty census: one md5 shingle pass "
     "staged per doc, explode ships 8-byte hashes (never shingle text), "
     "partial-combined count per hash, join back on the hash, one "
     "per-doc agg"),
    ("bpe_token_count", "trained-BPE tokenization is scan+project ONLY: "
     "the literal-replace merge chain runs per row with ZERO Exchange "
     "(training's census aggregation happens before this plan)"),
    ("main_content_extract", "block-scored extraction entirely JVM-side: "
     "chrome-drop regexes + block split + lambda filter in one Project "
     "over the scan, no Generate, no Exchange"),
    ("quality_classifier", "distilled scoring: trigram stack partial-"
     "aggregates (doc,bucket) map-side; the 2048-row weight table joins "
     "as BroadcastHashJoin; ONE shuffle for the per-doc integer sum"),
    ("c4_line_filter", "C4 line+page rules are scan+project ONLY: line "
     "split staged once, lambda filter + page flags in the same "
     "Project, ZERO Exchange"),
    ("dsir_importance", "DSIR scoring: feature stack partial-aggregates "
     "(doc,bucket) map-side; weight table + totals row come back as "
     "broadcasts; ONE shuffle for the per-doc integer sum"),
]


DEFAULT_OUT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "docs", "PLANS.md")


def main(sf_dir: str | None = None, out_path: str = DEFAULT_OUT) -> str:
    """Write the plans of the SHOWCASE queries over ``sf_dir`` (default: the
    sf0.01 test data beside ``__spark_entry__.SF001``) to ``out_path``."""
    from data_quality_autohealer_spark.session import get_spark

    import __spark_entry__ as entry_mod
    sf_dir = sf_dir or os.path.join(os.path.dirname(entry_mod.SF001),
                                    "sf0.01")
    # fixed cores: `_spread` repartitions to the default parallelism, which
    # appears in the plans
    spark = get_spark(app_name="dump-plans", master="local[8]")
    qs = entry_mod.queries()
    out = [
        "# Physical plans (generated by tools/dump_plans.py — do not edit)",
        "",
        f"`explain(\"formatted\")` at `{sf_dir}`, Spark "
        f"{spark.version}, AQE on. Regenerate after plan-affecting "
        "changes: `python tools/dump_plans.py`.",
        "",
    ]
    for name, claim in SHOWCASE:
        if name == "synth_filter":
            from data_quality_autohealer_spark import synth
            from data_quality_autohealer_spark.plans.pipeline import (
                score_pages,
            )
            df = score_pages(synth.gen_pages_df(
                spark, 100, num_partitions=1)).where("keep")
        else:
            df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        # strip session-dependent tokens (attribute exprIds #123, AQE
        # plan_ids, lambda variable ordinals, RDD ids and call sites) —
        # they depend on how many plans the session compiled before and on
        # how it was started, so leaving them in makes every regeneration a
        # meaningless whole-file diff
        plan = buf.getvalue().rstrip()
        plan = re.sub(r"#\d+", "#x", plan)
        plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
        plan = re.sub(r"lambda x_\d+", "lambda x_n", plan)
        plan = re.sub(r"RDD\[\d+\] at (\w+) at [^\s,]+",
                      r"RDD[x] at \1 at <site>", plan)
        out += [f"## {name}", "", f"**Proves:** {claim}", "", "```",
                plan, "```", ""]
    text = "\n".join(out) + "\n"
    with open(out_path, "w") as f:
        f.write(text)
    return out_path


if __name__ == "__main__":
    print(main(*sys.argv[1:3]))
