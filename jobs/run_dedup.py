"""Corpus dedup pre-pass CLI: dedup of the pages table into a deduped pages
table, with an audit trail.

At 100 TB dedup runs as its own pass BEFORE the quality filter (its unit is
the whole corpus, not a bucket, so folding it into the bucket-resumable
filter would make a bucket's output depend on other buckets and break
idempotent resume). The deduped table is then the filter's input.

Usage:
  python jobs/run_dedup.py --warehouse /tmp/wh --mode exact
  python jobs/run_dedup.py --warehouse /tmp/wh --mode neardup \
      --jaccard-threshold 0.5
  python jobs/run_dedup.py --warehouse /tmp/wh --mode line \
      --min-line-docs 2
  python jobs/run_dedup.py --warehouse /wh --mode index
  python jobs/run_dedup.py --warehouse /wh --mode decontaminate \
      --pages-table pages_new --index-table signatures

Every pages-producing mode is an ordered list of stages:

  mode           stages
  exact          exact
  canonical      canonical
  line           line
  substring      substring
  novelty        novelty
  decontaminate  decontaminate
  neardup        exact, neardup
  full           exact, line, substring, neardup

Stages: ``exact`` keeps one doc per md5(text); ``canonical`` one per
normalized (case/punct/whitespace) text; ``line`` rewrites each doc with
corpus-wide duplicate lines (boilerplate) removed — doc count unchanged,
``lines_dropped`` reported; ``substring`` drops docs dominated by
corpus-duplicated runs; ``novelty`` drops docs with too few corpus-novel
n-grams; ``decontaminate`` drops docs near-duplicating a previously written
signature index (the prior corpus's text is never re-read); ``neardup`` runs
the LSH → Jaccard → components chain, keeping the min-id member of each
cluster, or the best-scored one with ``--keep-best``. Exact runs before
neardup because identical-text clusters are the worst LSH mega-buckets.

Every stage but the last is materialized (persist + count) so each stage's
counts are exact: stage k's docs_in is stage k-1's docs_out, and the input
count is the output count plus every stage's removals. The last stage is
written straight to the output table, whose writer counts its rows.
``--mode index`` writes the corpus's near-dup signature index instead of
pages.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_quality_autohealer_spark.operators import dedup  # noqa: E402

# stages are called as ``stage(pages, args, held)`` and return the kept pages
# and the stage's extra counts; frames appended to ``held`` are unpersisted
# once the stage's output is materialized or written


def _neardup_kwargs(a) -> dict:
    return dict(text_col="text", id_col="url", shingle_n=a.shingle_n,
                jaccard_n=a.jaccard_n, threshold=a.jaccard_threshold,
                max_bucket_size=a.max_bucket_size)


def _exact(df, a, held):
    return dedup.exact_dedup(df, text_col="text", id_col="url"), {}


def _canonical(df, a, held):
    return dedup.canonical_dedup(df, text_col="text", id_col="url"), {}


def _line(df, a, held):
    ld = dedup.line_dedup(df, min_doc_count=a.min_line_docs,
                          text_col="text", id_col="url",
                          unit=a.unit).persist()
    held.append(ld)
    lines_dropped = int(ld.agg(F.sum("n_lines_dropped")).collect()[0][0]
                        or 0)
    # LEFT join: null-text docs never enter line_dedup's output and must
    # pass through untouched (null is absence, never dropped)
    kept = (df.join(ld.select("url", "text_deduped"), "url", "left")
            .withColumn("text", F.coalesce("text_deduped", "text"))
            .drop("text_deduped"))
    return kept, {"lines_dropped": lines_dropped}


def _substring(df, a, held):
    # Lee et al. remediation at document granularity: heavy substring
    # duplication marks templates/mirrors; dropping whole docs is the
    # bucket-resume-safe operation. Blanks are absence and always survive
    # (the summary only scores non-blank docs).
    from data_quality_autohealer_spark.operators import contamination
    heavy = (contamination.dup_substring_summary(
        df, text_col="text", id_col="url", k=a.substring_k)
        .where(F.col("dup_word_frac") > a.max_dup_word_frac)
        .select("url"))
    return df.join(heavy, "url", "left_anti"), {}


def _novelty(df, a, held):
    # corpus n-gram novelty below the floor: nearly every shingle also
    # appears in other docs (mirrors, generated templates). Set-based,
    # where substring needs contiguous runs. Null/whitespace docs are
    # absence: their shared md5('') shingle would score novel_frac 0, so
    # they never enter the boilerplate set.
    boiler = (dedup.ngram_novelty(
                  df.where(F.expr("trim(coalesce(text, '')) != ''")),
                  text_col="text", id_col="url")
              .where(F.col("novel_frac") < a.min_novelty)
              .select("url"))
    return df.join(boiler, "url", "left_anti"), {}


def _decontaminate(df, a, held):
    return dedup.decontaminate(
        df, os.path.join(a.warehouse, a.index_table), **_neardup_kwargs(a)
    ), {}


def _neardup(df, a, held):
    kwargs = _neardup_kwargs(a)
    if not a.keep_best:
        return dedup.neardup_dedup(df, **kwargs), {}
    # quality-aware survivors: per cluster keep the member with the highest
    # distilled-classifier score instead of min-id (clusters mix a clean
    # page with boilerplate mirrors). The classifier trains on the corpus's
    # own heuristic keep/drop labels — no model artifact needed.
    from data_quality_autohealer_spark.operators import distill, scoring
    scores = distill.distill_quality_classifier_fast(
        scoring.with_quality_signals_batched(df), id_col="url",
    ).select("url", "score_micro")
    return dedup.neardup_dedup_keep_best(
        df, scores, score_col="score_micro", **kwargs), {}


STAGES = {"exact": _exact, "canonical": _canonical, "line": _line,
          "substring": _substring, "novelty": _novelty,
          "decontaminate": _decontaminate, "neardup": _neardup}

MODES = {name: [name] for name in STAGES}
MODES.update({"neardup": ["exact", "neardup"],
              "full": ["exact", "line", "substring", "neardup"]})


def run_stages(wh, pages, n_in: int, names: list[str], a) -> list[dict]:
    """Run ``names`` in order over ``pages`` and write the last stage's
    output to ``a.out_table``; returns one counts dict per stage."""
    stages, cur, n_cur = [], pages, n_in
    for i, name in enumerate(names):
        held: list = []
        out, extra = STAGES[name](cur, a, held)
        if i < len(names) - 1:
            out = out.persist()
            n_out = out.count()
        else:
            out = out.drop("bucket")
            n_out = wh.write_pages(out, table=a.out_table)
        for df in held + ([cur] if i else []):
            df.unpersist()
        stages.append({"stage": name, "docs_in": n_cur, "docs_out": n_out,
                       "removed": n_cur - n_out, **extra})
        cur, n_cur = out, n_out
    return stages


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser()
    p.add_argument("--warehouse", required=True)
    p.add_argument("--pages-table", default="pages")
    p.add_argument("--out-table", default="pages_deduped")
    p.add_argument("--mode", choices=[*MODES, "index"], default="exact")
    p.add_argument("--min-novelty", type=float, default=0.2,
                   help="--mode novelty drops docs whose corpus n-gram "
                        "novelty (ngram_novelty.novel_frac) is below this")
    p.add_argument("--substring-k", type=int, default=8,
                   help="rolling window length (words) for --mode substring")
    p.add_argument("--max-dup-word-frac", type=float, default=0.5,
                   help="--mode substring drops docs whose duplicated-"
                        "substring word coverage exceeds this fraction")
    p.add_argument("--index-table", default="signatures",
                   help="signature-index table name (written by --mode "
                        "index, read by --mode decontaminate)")
    p.add_argument("--wave", default="base",
                   help="wave partition label for --mode index (the "
                        "unified wave-partitioned layout the incremental-"
                        "crawl DAG shares)")
    p.add_argument("--shingle-n", type=int, default=3)
    p.add_argument("--jaccard-n", type=int, default=3)
    p.add_argument("--jaccard-threshold", type=float, default=0.5)
    p.add_argument("--max-bucket-size", type=int, default=1000)
    p.add_argument("--min-line-docs", type=int, default=2)
    p.add_argument("--unit", choices=["line", "paragraph"], default="line",
                   help="dedup grain for --mode line: newline lines or "
                        "blank-line paragraphs (CCNet granularity)")
    p.add_argument("--keep-best", action="store_true",
                   help="neardup stage (modes neardup, full): keep the "
                        "highest-quality cluster member (distilled-"
                        "classifier score, tie min id) instead of the "
                        "min-id representative")
    p.add_argument("--master", default=None)
    p.add_argument("--generate", type=int, default=0,
                   help="generate N synthetic pages into the warehouse first")
    args = p.parse_args(argv)

    from data_quality_autohealer_spark import synth
    from data_quality_autohealer_spark.session import get_spark
    from data_quality_autohealer_spark.warehouse import Warehouse

    spark = get_spark(app_name=f"dqa-dedup-{args.mode}", master=args.master)
    wh = Warehouse(spark, args.warehouse)
    if args.generate:
        wh.write_pages(synth.gen_pages_df(spark, args.generate),
                       args.pages_table)
    pages = wh.read_pages(args.pages_table)
    n_in = pages.count()

    if args.mode == "index":
        # build + persist the near-dup signature index of THIS corpus:
        # later crawls decontaminate against it without re-reading text.
        # Unified layout (advice-r04): always wave-partitioned (default
        # wave 'base') + the params sidecar written through the Hadoop FS
        # abstraction — identical to what the incremental-crawl DAG
        # produces, so either producer's index serves either consumer
        t0 = time.perf_counter()
        idx_path = os.path.join(args.warehouse, args.index_table)
        dedup.write_signature_index(
            dedup.build_signature_index(
                pages, text_col="text", id_col="url",
                shingle_n=args.shingle_n, jaccard_n=args.jaccard_n),
            idx_path, wave=args.wave,
            params=dedup.signature_index_params(
                shingle_n=args.shingle_n, jaccard_n=args.jaccard_n))
        n_idx = spark.read.parquet(idx_path).count()
        sec = round(time.perf_counter() - t0, 2)
        wh.append_audit([("dedup-index", "dedup", n_in, 0.0, "ok",
                          f"signature index over {n_idx} docs in {sec}s",
                          datetime.datetime.now())])
        return {"mode": "index", "docs_in": n_in, "indexed": n_idx,
                "index_path": idx_path, "sec": sec}

    t0 = time.perf_counter()
    stages = run_stages(wh, pages, n_in, MODES[args.mode], args)
    sec = round(time.perf_counter() - t0, 2)
    n_out = stages[-1]["docs_out"]
    for prev, nxt in zip(stages, stages[1:]):
        assert nxt["docs_in"] == prev["docs_out"], stages
    assert n_in == n_out + sum(s["removed"] for s in stages), \
        (n_in, n_out, stages)  # stages partition the input
    lines = [s["lines_dropped"] for s in stages if "lines_dropped" in s]

    now = datetime.datetime.now()
    if args.mode == "full":
        rows = [(f"dedup-full-{s['stage']}", "dedup", s["docs_in"],
                 round(s["removed"] / max(s["docs_in"], 1), 6), "ok",
                 f"full-chain stage {i + 1}/{len(stages)} {s['stage']}: "
                 f"{s['docs_in']} -> {s['docs_out']} docs", now)
                for i, s in enumerate(stages)]
    else:
        detail = f"{args.mode} dedup {n_in} -> {n_out} docs in {sec}s"
        if lines:
            detail += f" ({sum(lines)} duplicate lines removed)"
        rows = [(f"dedup-{args.mode}", "dedup", n_in,
                 round(1.0 - n_out / max(n_in, 1), 6), "ok", detail, now)]
    wh.append_audit(rows)

    summary = {"mode": args.mode, "docs_in": n_in, "docs_out": n_out,
               "removed": n_in - n_out}
    if lines:
        summary["lines_dropped"] = sum(lines)
    return {**summary, "stages": stages, "sec": sec}


if __name__ == "__main__":
    json.dump(main(), sys.stdout)
    print()
