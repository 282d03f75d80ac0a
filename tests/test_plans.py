"""Physical-plan assertions: the optimizations we rely on at 100 TB must be
visible in explain output (SURVEY §4.2)."""

import io
import re
from contextlib import redirect_stdout

import pyspark.sql.functions as F

from data_quality_autohealer_spark import synth
from data_quality_autohealer_spark.operators.schema_drift import (
    SchemaRegistry, diff_schemas, schema_fingerprint,
)
from data_quality_autohealer_spark.plans.pipeline import score_pages


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scoring_never_reads_html(spark, tmp_path):
    """Column pruning: the scoring path must not read the html BINARY column
    from the scan (SURVEY §4.2 'critical')."""
    path = str(tmp_path / "pages")
    synth.gen_pages_df(spark, 200, num_partitions=2).write.parquet(path)
    pages = spark.read.parquet(path)
    plan = _plan(score_pages(pages).where("keep"))
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m, plan
    assert "html" not in m.group(1)
    assert "text" in m.group(1)


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    path = str(tmp_path / "pages2")
    synth.gen_pages_df(spark, 200, num_partitions=2).write.parquet(path)
    pages = spark.read.parquet(path)
    plan = _plan(pages.where(F.col("lang") == "en").select("url"))
    assert re.search(r"PushedFilters: .*(EqualTo|IsNotNull)", plan), plan


def test_single_udf_node(spark):
    """The scoring UDF must appear exactly once even under a keep-filter
    (regression: filter pushdown used to clone the ArrowEvalPython node)."""
    pages = synth.gen_pages_df(spark, 50, num_partitions=1)
    plan = _plan(score_pages(pages).where("keep"))
    assert plan.count("ArrowEvalPython") <= 2  # 1 tree node + 1 detail entry


def test_resume_antijoin_is_broadcast(spark, tmp_path):
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh = Warehouse(spark, str(tmp_path / "wh"), num_buckets=8)
    wh.write_pages(synth.gen_pages_df(spark, 500, num_partitions=2))
    from data_quality_autohealer_spark.plans.pipeline import (
        bucket_metrics,
    )
    scored = score_pages(wh.read_pages().limit(100))
    wh.append_metrics(bucket_metrics(scored, "r1"))
    plan = _plan(wh.resume_filter(wh.read_pages(), "r1"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_minhash_base_hash_staged_once(spark):
    """The md5→int base-hash pass over shingles must appear ONCE in the
    optimized plan (staged _hg column, multi-reference); if CollapseProject
    ever inlines it per signature/band again, this counts k× (regression:
    inline lambda references re-ran split() per array element, 16×)."""
    from data_quality_autohealer_spark.operators import dedup
    docs = spark.createDataFrame(
        [(i, "some words appear here repeatedly for shingles %d" % i)
         for i in range(10)], "doc_id long, text string")
    plan = _plan(dedup.with_minhash(docs, k=8, shingle_n=3))
    assert plan.count("conv(substring(md5(") <= 2, plan  # tree + detail


def test_jaccard_verify_intersect_bounded(spark):
    """Catalyst pushes the threshold into the JOIN CONDITION (early filter —
    non-qualifying pairs never materialize downstream), which inlines the
    intersect twice there (numerator + union-size identity) plus once in the
    survivors' project: ≤3 occurrences total. Guards against a regression to
    the un-staged form where the full md5+split shingle construction was
    inlined per reference (16× measured)."""
    from data_quality_autohealer_spark.operators import dedup
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta %d" % (i % 3))
         for i in range(12)], "doc_id long, text string")
    cand = dedup.minhash_lsh_pairs(docs, k=8, rows_per_band=2, shingle_n=2)
    plan = _plan(dedup.jaccard_verify_pairs(docs, cand, n=3, threshold=0.2))
    assert plan.count("array_intersect") <= 4, plan
    # the expensive part — shingle construction — must stay on the 1-row-per-
    # doc side, never inside the pair join condition/output
    join_lines = [ln for ln in plan.splitlines()
                  if "Join condition" in ln or "_i#" in ln]
    assert all("md5" not in ln for ln in join_lines), join_lines


def test_schema_drift(spark, tmp_path):
    a = spark.createDataFrame([(1, "x", 1.0)], "id long, s string, v double")
    b = spark.createDataFrame([(1, "x")], "id long, s string")
    d = diff_schemas(a.schema, b.schema)
    assert d["new_columns"] == ["v"] and d["has_drift"]
    reg = SchemaRegistry(str(tmp_path / "registry.json"))
    reg.record("t", b)
    chk = reg.check("t", a)
    assert chk["new_columns"] == ["v"]
    c = spark.createDataFrame([("1", "x")], "id string, s string")
    assert reg.check("t", c)["type_changed_columns"] == ["id"]
    assert schema_fingerprint(a) != schema_fingerprint(b)


def test_plans_md_regenerates_with_claimed_shapes(spark, tmp_path):
    """docs/PLANS.md is generated evidence — regenerate it (into tmp_path,
    so the tracked file only changes on purpose) and assert the
    load-bearing shapes really appear in the captured plans."""
    from tools import dump_plans

    path = dump_plans.main(out_path=str(tmp_path / "PLANS.md"))
    text = open(path).read()
    # session-dependent ids are normalised, so regeneration is stable
    assert not re.search(r"RDD\[\d+\]", text)
    sections = {}
    for chunk in text.split("\n## ")[1:]:
        name = chunk.split("\n", 1)[0].strip()
        sections[name] = chunk.split("```")[1]  # the fenced plan only
    assert set(sections) == {n for n, _ in dump_plans.SHOWCASE}
    # single UDF crossing, html pruned
    sf = sections["synth_filter"]
    assert sf.count("ArrowEvalPython (") == 1  # one tree node
    # as-of: no join node anywhere in the plan
    assert "Join" not in sections["asof_join_events"]
    # range join: an equi-join, never a product
    tr = sections["time_range_join_events"]
    assert "CartesianProduct" not in tr and "NestedLoop" not in tr
    assert "Join" in tr
    # broadcast dims
    assert "BroadcastHashJoin" in sections["top_customers"]
