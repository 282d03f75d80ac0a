"""In-process tests for every run_dedup CLI mode: outputs, summaries, the
per-stage audit trail and the Spark jobs each mode runs."""

import datetime

import pytest

from jobs import run_dedup

_BOILER = "ACCEPT COOKIES AND SUBSCRIBE"
_SHARED = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
           "lamda mu nu xi omicron pi rho sigma tau upsilon")
_BASE = ("the cat sat on the mat and looked at the dog while it "
         "rained outside all afternoon long")
# one case per full-mode stage (see test_full_mode_runs_whole_stack...)
FULL_ROWS = [
    # exact pair -> one survives stage 1
    ("http://x1/", "identical page text repeated verbatim elsewhere"),
    ("http://x2/", "identical page text repeated verbatim elsewhere"),
    # boilerplate line stripped in stage 2 (docs survive)
    ("http://l1/", f"{_BOILER}\nreal content about parquet readers one"),
    ("http://l2/", f"{_BOILER}\nreal content about stream watermarks"),
    # template doc: one big corpus-duplicated run -> stage 3 drop
    ("http://t1/", _SHARED),
    ("http://t2/", _SHARED + " with a small tail"),
    # near-dup pair (one word changed) -> stage 4 keeps one
    ("http://n1/", _BASE),
    ("http://n2/", _BASE.replace("looked", "stared")),
    # unique + blank (absence; must survive every stage)
    ("http://u1/", "a genuinely unique page discussing adaptive "
                   "query execution in considerable depth"),
    ("http://e1/", None),
]


def _pages(spark, rows):
    ts = datetime.datetime(2026, 1, 1)
    return spark.createDataFrame(
        [(u, ts, b"", t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")


def _kept(wh):
    return {r["url"] for r in
            wh.read_pages("pages_deduped").select("url").collect()}


def test_canonical_mode_keeps_one_per_normalized_text(spark, tmp_path):
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = [(f"http://a{i}/", t) for i, t in enumerate(
        ["Hello, World!", "hello world", "Other Text", "other   text",
         "third doc entirely"])]
    wh.write_pages(_pages(spark, rows))
    out = run_dedup.main(["--warehouse", str(tmp_path / "wh"),
                          "--mode", "canonical"])
    assert out["docs_in"] == 5 and out["docs_out"] == 3
    kept = {r["url"] for r in
            wh.read_pages("pages_deduped").select("url").collect()}
    # minimal url per canonical group survives
    assert kept == {"http://a0/", "http://a2/", "http://a4/"}


def test_line_mode_strips_boilerplate_keeps_all_docs(spark, tmp_path):
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = [(f"http://b{i}/", f"ACCEPT COOKIES\nreal content {i}")
            for i in range(4)]
    # null-text doc: absence, passes through the line rewrite untouched
    # (advice-r05 convention — the join is LEFT, not inner)
    rows.append(("http://null/", None))
    wh.write_pages(_pages(spark, rows))
    out = run_dedup.main(["--warehouse", str(tmp_path / "wh"),
                          "--mode", "line"])
    assert out["docs_in"] == 5 and out["docs_out"] == 5
    assert out["lines_dropped"] == 4
    texts = {r["url"]: r["text"] for r in
             wh.read_pages("pages_deduped").select("url", "text").collect()}
    for i in range(4):
        assert texts[f"http://b{i}/"] == f"real content {i}"
    # audit row records the line removal
    audits = wh.read_audit().collect()
    assert any("duplicate lines removed" in r["message"] for r in audits)


def test_line_mode_paragraph_unit(spark, tmp_path):
    """--unit paragraph: the multi-line boilerplate PARAGRAPH drops as one
    unit; its constituent lines never dedup individually."""
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh = Warehouse(spark, str(tmp_path / "wh"))
    boiler = "subscribe now\nget the newsletter"
    rows = [(f"http://p{i}/", f"unique prose {i}\n\n{boiler}")
            for i in range(3)]
    rows.append(("http://solo/", "subscribe now"))  # single LINE, kept
    wh.write_pages(_pages(spark, rows))
    out = run_dedup.main(["--warehouse", str(tmp_path / "wh"),
                          "--mode", "line", "--unit", "paragraph"])
    assert out["docs_in"] == 4 and out["docs_out"] == 4
    assert out["lines_dropped"] == 3          # one paragraph per doc
    texts = {r["url"]: r["text"] for r in
             wh.read_pages("pages_deduped").select("url", "text").collect()}
    for i in range(3):
        assert texts[f"http://p{i}/"] == f"unique prose {i}"
    assert texts["http://solo/"] == "subscribe now"


def test_index_then_decontaminate_cli(spark, tmp_path):
    """Incremental dedup across CLI runs: --mode index persists the
    corpus's signature index; --mode decontaminate drops a later crawl's
    near/exact copies against it without re-reading the ref text."""
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)
    ref_rows = [
        ("http://r1/", "the cat sat on the mat and looked at the dog "
                       "while it rained outside all afternoon"),
        ("http://r2/", "completely different text about spark query "
                       "engines operating at warehouse scale"),
    ]
    wh.write_pages(_pages(spark, ref_rows))
    out = run_dedup.main(["--warehouse", wh_dir, "--mode", "index"])
    assert out["indexed"] == 2

    new_rows = [
        # near-dup of r1 (one word changed) and exact copy of r2
        ("http://n1/", "the cat sat on the mat and stared at the dog "
                       "while it rained outside all afternoon"),
        ("http://n2/", "completely different text about spark query "
                       "engines operating at warehouse scale"),
        ("http://n3/", "a genuinely novel document discussing parquet "
                       "reader vectorization strategies in depth"),
        ("http://n4/", "another brand new page about watermarking and "
                       "stateful stream processing semantics"),
    ]
    wh.write_pages(_pages(spark, new_rows), "pages_new")
    out2 = run_dedup.main(["--warehouse", wh_dir, "--mode", "decontaminate",
                           "--pages-table", "pages_new",
                           "--jaccard-threshold", "0.5"])
    assert out2["docs_in"] == 4 and out2["docs_out"] == 2
    kept = {r["url"] for r in
            wh.read_pages("pages_deduped").select("url").collect()}
    assert kept == {"http://n3/", "http://n4/"}


def test_decontaminate_rejects_mismatched_index_params(spark, tmp_path):
    """An index built with different shingle params would silently match
    nothing — the CLI must fail loudly instead (review finding)."""
    import pytest

    from data_quality_autohealer_spark.warehouse import Warehouse
    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)
    wh.write_pages(_pages(spark, [("http://r1/", "some reference page "
                                   "text long enough for shingles")]))
    run_dedup.main(["--warehouse", wh_dir, "--mode", "index",
                    "--shingle-n", "4"])
    wh.write_pages(_pages(spark, [("http://n1/", "a new page")]),
                   "pages_new")
    with pytest.raises(ValueError, match="parameter mismatch"):
        run_dedup.main(["--warehouse", wh_dir, "--mode", "decontaminate",
                        "--pages-table", "pages_new"])  # default shingle 3


def test_decontaminate_fails_loudly_without_sidecar(spark, tmp_path):
    """advice-r04: a missing _sig_params.json used to silently SKIP the
    parameter check (the exact failure it guards — an unverifiable index —
    passed straight through). It now raises."""
    import pytest

    from data_quality_autohealer_spark.operators import dedup
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)
    pages = _pages(spark, [("http://r1/", "reference page text long "
                            "enough for shingles to exist")])
    wh.write_pages(pages)
    # legacy FLAT index with no sidecar (what a pre-unification producer
    # or a hand-copied parquet dir looks like)
    dedup.build_signature_index(
        wh.read_pages(), text_col="text", id_col="url"
    ).write.mode("overwrite").parquet(str(tmp_path / "wh" / "signatures"))
    wh.write_pages(pages, "pages_new")
    with pytest.raises(ValueError, match="no _sig_params.json"):
        run_dedup.main(["--warehouse", wh_dir, "--mode", "decontaminate",
                        "--pages-table", "pages_new"])


def test_cli_index_layout_matches_dag_layout(spark, tmp_path):
    """advice-r04 unification: run_dedup --mode index writes the SAME
    wave-partitioned layout + sidecar the incremental-crawl DAG produces,
    so the DAG-style reader (wave filter included) consumes a CLI-written
    index directly."""
    from data_quality_autohealer_spark.operators import dedup
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)
    wh.write_pages(_pages(spark, [
        ("http://r1/", "the cat sat on the mat and looked at the dog "
                       "while it rained outside"),
        ("http://r2/", "completely different text about spark query "
                       "engines operating at scale"),
    ]))
    run_dedup.main(["--warehouse", wh_dir, "--mode", "index"])
    idx = dedup.read_signature_index(
        spark, f"{wh_dir}/signatures", exclude_wave="wave-7")
    assert set(idx.columns) >= {"url", "buckets", "ngrams", "wave"}
    assert idx.count() == 2  # wave filter keeps the CLI's 'base' wave
    assert idx.where("wave = 'base'").count() == 2
    # and a DAG-style second wave lands beside it without clobbering
    dedup.write_signature_index(
        dedup.build_signature_index(wh.read_pages(), text_col="text",
                                    id_col="url"),
        f"{wh_dir}/signatures", wave="wave-7")
    both = dedup.read_signature_index(spark, f"{wh_dir}/signatures")
    assert both.count() == 4
    assert dedup.read_signature_index(
        spark, f"{wh_dir}/signatures", exclude_wave="wave-7").count() == 2


def test_index_append_refuses_mismatched_params(spark, tmp_path):
    """advice-r05: appending a wave with DIFFERENT params used to
    overwrite the shared sidecar, so readers validated older waves against
    the last writer's params — mismatched waves passed the guard and
    matched nothing. Append now reads any existing sidecar first and
    raises on mismatch; the original sidecar survives the refused write."""
    import pytest

    from data_quality_autohealer_spark.operators import dedup
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)
    wh.write_pages(_pages(spark, [
        ("http://r1/", "the cat sat on the mat and looked at the dog "
                       "while it rained outside"),
    ]))
    run_dedup.main(["--warehouse", wh_dir, "--mode", "index"])
    idx_path = f"{wh_dir}/signatures"
    frame = dedup.build_signature_index(
        wh.read_pages(), text_col="text", id_col="url",
        shingle_n=4, jaccard_n=4)
    with pytest.raises(ValueError, match="parameter-homogeneous"):
        dedup.write_signature_index(
            frame, idx_path, wave="wave-2",
            params=dedup.signature_index_params(shingle_n=4, jaccard_n=4))
    # the original sidecar is intact and the original wave still reads
    assert dedup.read_signature_index(spark, idx_path).count() == 1
    # identical-params append still lands cleanly
    dedup.write_signature_index(
        dedup.build_signature_index(wh.read_pages(), text_col="text",
                                    id_col="url"),
        idx_path, wave="wave-2")
    assert dedup.read_signature_index(spark, idx_path).count() == 2


def test_substring_mode_drops_heavy_duplication(spark, tmp_path):
    """--mode substring drops docs whose duplicated-substring coverage
    exceeds the threshold (a doc that is one big shared run), keeps docs
    with only light duplication, and keeps unique docs."""
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)
    shared = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
              "lamda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        ("http://a/", shared),                      # 100% duplicated
        ("http://b/", shared + " plus some tail"),  # heavily duplicated
        ("http://c/", "a genuinely unique page discussing parquet reader "
                      "vectorization strategies in depth " + shared[:22]),
        ("http://d/", "another unique page about stateful streaming "
                      "watermark semantics and query planning"),
        # scrape failures: null/empty text is absence, not a duplicated
        # value — NEVER dropped by substring mode (review finding; the
        # bloom.py NULL convention)
        ("http://e/", None),
        ("http://f/", "   "),
    ]
    wh.write_pages(_pages(spark, rows))
    out = run_dedup.main(["--warehouse", wh_dir, "--mode", "substring",
                          "--max-dup-word-frac", "0.5"])
    kept = {r["url"] for r in
            wh.read_pages("pages_deduped").select("url").collect()}
    assert kept == {"http://c/", "http://d/", "http://e/", "http://f/"}
    assert out["docs_in"] == 6 and out["docs_out"] == 4


def test_full_mode_runs_whole_stack_with_reconciled_stages(spark, tmp_path):
    """--mode full composes exact -> line -> substring -> neardup in one
    pass; the per-stage audit counts must partition the input exactly
    (VERDICT r05 #6)."""
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)
    wh.write_pages(_pages(spark, FULL_ROWS))
    out = run_dedup.main(["--warehouse", wh_dir, "--mode", "full",
                          "--jaccard-threshold", "0.5",
                          "--max-dup-word-frac", "0.8"])
    assert [s["stage"] for s in out["stages"]] == [
        "exact", "line", "substring", "neardup"]
    # chain reconciles: stage k docs_in == stage k-1 docs_out; removals
    # partition the input
    assert out["stages"][0]["docs_in"] == out["docs_in"] == 10
    for prev, nxt in zip(out["stages"], out["stages"][1:]):
        assert nxt["docs_in"] == prev["docs_out"]
    assert out["docs_in"] == out["docs_out"] + sum(
        s["removed"] for s in out["stages"])
    assert out["stages"][0]["removed"] == 1          # exact pair
    assert out["stages"][1]["removed"] == 0          # line keeps docs
    assert out["stages"][1]["lines_dropped"] == 2    # boiler stripped
    assert out["stages"][2]["removed"] >= 1          # template farm
    assert out["stages"][3]["removed"] == 1          # near-dup pair
    kept = {r["url"]: r["text"] for r in
            wh.read_pages("pages_deduped").select("url", "text").collect()}
    assert "http://u1/" in kept and "http://e1/" in kept
    assert len({"http://n1/", "http://n2/"} & set(kept)) == 1
    assert len({"http://x1/", "http://x2/"} & set(kept)) == 1
    # boilerplate line gone from the rewritten survivors
    assert kept["http://l1/"] == "real content about parquet readers one"
    # audit trail carries all four stages
    msgs = [r["message"] for r in wh.read_audit().collect()]
    for i, st in enumerate(["exact", "line", "substring", "neardup"]):
        assert any(f"stage {i + 1}/4 {st}" in m for m in msgs)


@pytest.mark.parametrize("mode, stages, kept", [
    # one keep per exact pair; everything else untouched
    ("exact", ["exact"], {u for u, _ in FULL_ROWS} - {"http://x2/"}),
    # exact pre-pass, then one keep per near-dup cluster (min id); the
    # shared boilerplate line makes l1/l2 near-duplicates too
    ("neardup", ["exact", "neardup"],
     {u for u, _ in FULL_ROWS} - {"http://x2/", "http://l2/",
                                  "http://n2/", "http://t2/"}),
])
def test_exact_and_neardup_modes(spark, tmp_path, mode, stages, kept):
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)
    wh.write_pages(_pages(spark, FULL_ROWS))
    out = run_dedup.main(["--warehouse", wh_dir, "--mode", mode])
    assert _kept(wh) == kept
    assert {k: out[k] for k in ("mode", "docs_in", "docs_out", "removed")} \
        == {"mode": mode, "docs_in": 10, "docs_out": len(kept),
            "removed": 10 - len(kept)}
    assert [s["stage"] for s in out["stages"]] == stages
    assert out["stages"][-1]["docs_out"] == len(kept)
    [audit] = wh.read_audit().collect()
    assert (audit["run_id"], audit["step"]) == (f"dedup-{mode}", "dedup")
    assert audit["message"].startswith(
        f"{mode} dedup 10 -> {len(kept)} docs in ")


@pytest.mark.parametrize("mode", ["substring", "full"])
def test_every_doc_removed_writes_empty_table(spark, tmp_path, mode):
    """A stage that removes every doc (three pages of one template) leaves
    an empty output table that counts as 0 docs in every mode."""
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)
    wh.write_pages(_pages(spark, [(f"http://tp{i}/", _SHARED + f" page {i}")
                                  for i in range(3)]))
    out = run_dedup.main(["--warehouse", wh_dir, "--mode", mode,
                          "--max-dup-word-frac", "0.5"])
    assert out["docs_in"] == 3 and out["docs_out"] == 0
    assert out["removed"] == 3
    assert wh.read_table("pages_deduped",
                         wh.read_pages().schema).count() == 0


def test_novelty_mode_drops_template_docs(spark, tmp_path):
    """--mode novelty drops docs whose shingles all appear elsewhere
    (template/mirror pages) and keeps genuinely novel docs."""
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)
    template = ("click here to accept cookies and subscribe to our daily "
                "newsletter for updates about everything")
    rows = [
        ("http://t1/", template),
        ("http://t2/", template + " today"),  # near-pure template
        ("http://u1/", "a genuinely unique page discussing parquet reader "
                       "vectorization strategies in considerable depth"),
        ("http://u2/", "another unique page about stateful streaming "
                       "watermark semantics and adaptive query planning"),
        # scrape failures: null/whitespace text is absence, not
        # boilerplate — with >=2 blanks they'd share the single md5('')
        # shingle and score novel_frac=0, so without the pre-filter they
        # would be silently dropped (advice-r05). They must ALWAYS survive.
        ("http://e1/", None),
        ("http://e2/", "   "),
        ("http://e3/", ""),
    ]
    wh.write_pages(_pages(spark, rows))
    out = run_dedup.main(["--warehouse", wh_dir, "--mode", "novelty",
                          "--min-novelty", "0.5"])
    kept = {r["url"] for r in
            wh.read_pages("pages_deduped").select("url").collect()}
    assert kept == {"http://u1/", "http://u2/", "http://e1/", "http://e2/",
                    "http://e3/"}
    assert out["docs_in"] == 7 and out["docs_out"] == 5


def test_neardup_keep_best_prefers_quality_over_min_id(spark, tmp_path):
    """--keep-best: the near-dup cluster survivor is the highest
    distilled-classifier-score member, not the min-id one; everything
    else (unclustered docs, null text) passes through identically."""
    from data_quality_autohealer_spark.warehouse import Warehouse
    good = ("the migration guide explains how the streaming planner "
            "assigns watermarks and how state stores compact over time "
            "with clear worked examples for every operator")
    junk = " $$$ ### @@@ %%% ^^^ &&& *** !!! ??? ;;; ||| ~~~"
    rows = [
        # cluster: a0 (min id) is the junk-laden mirror, z9 the clean page
        ("http://a0/", good + junk),
        ("http://z9/", good),
        # background corpus: clean prose + symbol-soup so the heuristic
        # labels are mixed and the distilled weights discriminate
        ("http://b1/", "spark partitions parquet files into splittable "
                       "row groups so executors scan column chunks in "
                       "parallel with predicate pushdown enabled"),
        ("http://b2/", "the optimizer folds constants prunes columns and "
                       "reorders joins before whole stage codegen emits "
                       "fused operators for the selected physical plan"),
        ("http://b3/", "watermark eviction bounds the state store while "
                       "late events within the threshold still merge "
                       "into their original aggregation windows"),
        ("http://x1/", "$$$ ### @@@ %%% " * 6),
        ("http://x2/", "!!! ??? ;;; ||| " * 6),
        ("http://n1/", None),
    ]
    # full mode runs the same neardup stage last; a 1.0 substring cut
    # keeps the cluster (z9 is one duplicated run) for it to rank
    for i, (args, expect_survivor) in enumerate((
            (["--mode", "neardup", "--keep-best"], "http://z9/"),
            (["--mode", "neardup"], "http://a0/"),
            (["--mode", "full", "--keep-best",
              "--max-dup-word-frac", "1.0"], "http://z9/"))):
        wh_dir = str(tmp_path / f"wh{i}")
        wh = Warehouse(spark, wh_dir)
        wh.write_pages(_pages(spark, rows))
        out = run_dedup.main(["--warehouse", wh_dir,
                              "--jaccard-threshold", "0.4", *args])
        kept = _kept(wh)
        other = "http://a0/" if expect_survivor == "http://z9/" \
            else "http://z9/"
        assert expect_survivor in kept and other not in kept, (args, kept)
        assert "http://n1/" in kept            # null text passes through
        assert out["docs_in"] == 8 and out["docs_out"] == 7
        assert out["stages"][-1]["removed"] == 1


# Spark jobs one run of each mode (default options) started over FULL_ROWS
# in this suite's session (local[8], 8 shuffle partitions), measured before
# the modes were built from one stage table: two runs each, equal except
# neardup-keep-best (40, then 39; the larger is kept)
PARENT_JOBS = {"exact": 11, "canonical": 11, "line": 17, "substring": 15,
               "novelty": 15, "neardup": 33, "neardup-keep-best": 40,
               "full": 54}


def test_jobs_per_mode_at_most_parent(spark, tmp_path):
    """Each mode starts no more Spark jobs than before; full mode, whose
    last stage is no longer persisted and counted before the write,
    strictly fewer."""
    from data_quality_autohealer_spark.warehouse import Warehouse
    wh_dir = str(tmp_path / "wh")
    Warehouse(spark, wh_dir).write_pages(_pages(spark, FULL_ROWS))
    sc = spark.sparkContext
    jobs = {}
    for name in PARENT_JOBS:
        mode, *flags = name.split("-", 1)
        group = f"test-dedup-jobs-{tmp_path.name}-{name}"
        sc.setJobGroup(group, group)
        try:
            run_dedup.main(["--warehouse", wh_dir, "--mode", mode,
                            *(["--keep-best"] if flags else [])])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert all(jobs[m] <= PARENT_JOBS[m] for m in PARENT_JOBS), jobs
    assert jobs["full"] < PARENT_JOBS["full"], jobs
