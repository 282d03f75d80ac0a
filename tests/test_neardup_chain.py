"""LSH bucket cap + LSH→Jaccard verify chain + connected-components
near-dup groups (VERDICT round-1 items 2/3/7)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from data_quality_autohealer_spark import synth
from data_quality_autohealer_spark.operators import dedup


@pytest.fixture(scope="module")
def mega_corpus(spark):
    """60 identical boilerplate docs + 6 organic docs (one near-dup pair)."""
    boiler = [(100 + i, "click here to accept cookies and subscribe now "
               "to our newsletter for daily updates", "en")
              for i in range(60)]
    organic = [
        (0, "the cat sat on the mat and looked at the dog", "en"),
        (1, "the cat sat on the mat and glanced at the dog", "en"),
        (2, "completely different text about spark query engines", "en"),
        (3, "another unrelated document discussing parquet files", "en"),
        (4, "der schnelle braune fuchs springt über den faulen hund", "de"),
        (5, "the cat sat on the mat and looked at the dog today", "en"),
    ]
    return spark.createDataFrame(boiler + organic,
                                 "doc_id long, text string, lang string")


def test_bucket_cap_bounds_mega_cluster(mega_corpus):
    capped = dedup.minhash_lsh_pairs(mega_corpus, k=8, rows_per_band=2,
                                     shingle_n=2, max_bucket_size=10)
    uncapped = dedup.minhash_lsh_pairs(mega_corpus, k=8, rows_per_band=2,
                                       shingle_n=2, max_bucket_size=None)
    n_capped, n_uncapped = capped.count(), uncapped.count()
    # uncapped enumerates the 60-doc boilerplate cluster: C(60,2) = 1770 pairs
    assert n_uncapped >= 1770
    # capped drops the mega bucket entirely; only organic pairs remain
    assert n_capped < 60
    boiler_ids = set(range(100, 160))
    for r in capped.collect():
        assert not ({r["id_a"], r["id_b"]} <= boiler_ids), \
            "mega-cluster pair leaked through the cap"


def test_cap_noop_on_normal_corpus(mega_corpus):
    organic = mega_corpus.where(F.col("doc_id") < 100)
    with_cap = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(
        organic, k=8, rows_per_band=2, shingle_n=2).collect()}
    no_cap = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(
        organic, k=8, rows_per_band=2, shingle_n=2,
        max_bucket_size=None).collect()}
    assert with_cap == no_cap


def test_connected_components(spark):
    # chain 1-2-3, pair 10-11, isolated 20-21-22 triangle
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long")
    comp = {r["id"]: r["comp"]
            for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}


def test_neardup_groups_and_dedup(mega_corpus):
    organic = mega_corpus.where(F.col("doc_id") < 100)
    groups = dedup.neardup_groups(organic, k=8, rows_per_band=2, shingle_n=2,
                                  jaccard_n=3, threshold=0.2)
    rows = {r["doc_id"]: (r["rep_id"], r["cluster_size"])
            for r in groups.collect()}
    # docs 0/1/5 are a near-dup cluster with rep 0
    assert rows[0] == (0, 3) and rows[1] == (0, 3) and rows[5] == (0, 3)
    assert 2 not in rows and 3 not in rows and 4 not in rows
    deduped = dedup.neardup_dedup(organic, k=8, rows_per_band=2, shingle_n=2,
                                  jaccard_n=3, threshold=0.2)
    kept = {r["doc_id"] for r in deduped.select("doc_id").collect()}
    assert kept == {0, 2, 3, 4}


def test_neardup_dedup_is_idempotent(mega_corpus):
    """After keep-one-per-cluster, re-running the chain finds NO clusters:
    LSH buckets are per-doc deterministic, so any surviving verified pair
    would have put both docs in one component (contradiction)."""
    organic = mega_corpus.where(F.col("doc_id") < 100)
    once = dedup.neardup_dedup(organic, k=8, rows_per_band=2, shingle_n=2,
                               jaccard_n=3, threshold=0.2)
    again = dedup.neardup_groups(once, k=8, rows_per_band=2, shingle_n=2,
                                 jaccard_n=3, threshold=0.2)
    assert again.count() == 0


def test_lsh_jaccard_chain_recall():
    """Chain recall ≥ 0.9 vs exact blocked Jaccard on the synth corpus."""
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from data_quality_autohealer_spark.session import get_spark

    spark = get_spark(app_name="dqa-tests", master="local[8]",
                      shuffle_partitions=8)
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    exact = {(r["id_a"], r["id_b"])
             for r in dedup.ngram_jaccard_pairs(
                 docs, n=3, threshold=0.2, block_cols=["lang"]).collect()}
    cand = dedup.minhash_lsh_pairs(docs, k=8, rows_per_band=2, shingle_n=2)
    chain = {(r["id_a"], r["id_b"])
             for r in dedup.jaccard_verify_pairs(
                 docs, cand, n=3, threshold=0.2).collect()}
    if not exact:
        pytest.skip("no exact near-dup pairs at this sf")
    recall = len(exact & chain) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} ({len(exact)} exact pairs)"
    # chain pairs are Jaccard-verified, so precision vs the unblocked exact
    # criterion is 1.0 by construction (every chain pair passed the filter)


def test_components_path_graph_log_rounds(spark):
    # 200-node path graph: diameter 199 — plain min-label propagation needs
    # ~199 rounds; with per-round path compression it must converge in
    # O(log n) rounds, well inside the default max_iter=25
    pairs = spark.createDataFrame([(i, i + 1) for i in range(199)],
                                  "id_a long, id_b long")
    stats = {}
    # local_edge_cutoff=0 forces the distributed loop (the round-7 driver
    # union-find fast path would otherwise absorb a graph this small)
    comp = dedup.connected_components(pairs, stats=stats,
                                      local_edge_cutoff=0)
    rows = comp.collect()
    assert len(rows) == 200
    assert {r["comp"] for r in rows} == {0}
    assert stats["rounds"] <= 12, f"took {stats['rounds']} rounds"


def test_components_local_equals_distributed(spark):
    """The round-7 driver union-find fast path must return the identical
    (id, comp) row set as the distributed fixpoint loop, on a graph mixing
    a long path, a clique, self-loops, duplicate edges, and singleton
    pairs."""
    edges = ([(i, i + 1) for i in range(0, 40)]            # path
             + [(100 + a, 100 + b) for a in range(5)
                for b in range(a + 1, 5)]                  # clique
             + [(200, 200), (300, 301), (300, 301), (301, 300),
                (400, 401), (402, 401)])
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    local = {(r["id"], r["comp"])
             for r in dedup.connected_components(pairs).collect()}
    dist_stats = {}
    dist = {(r["id"], r["comp"])
            for r in dedup.connected_components(
                pairs, stats=dist_stats, local_edge_cutoff=0).collect()}
    assert "local" not in dist_stats
    assert local == dist
    # schema parity: same column names and types on both paths
    a = dedup.connected_components(pairs).schema
    b = dedup.connected_components(pairs, local_edge_cutoff=0).schema
    assert [(f.name, f.dataType) for f in a] == \
        [(f.name, f.dataType) for f in b]


def test_components_raise_on_non_convergence(spark):
    pairs = spark.createDataFrame([(i, i + 1) for i in range(64)],
                                  "id_a long, id_b long")
    with pytest.raises(dedup.ComponentsNotConverged):
        dedup.connected_components(pairs, max_iter=1, local_edge_cutoff=0)


def test_components_reliable_checkpoint_dir(spark, tmp_path):
    # cluster mode: reliable checkpoint() instead of localCheckpoint()
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  "id_a long, id_b long")
    ckpt = str(tmp_path / "ckpt")
    comp = dedup.connected_components(pairs, checkpoint_dir=ckpt)
    got = {(r["id"], r["comp"]) for r in comp.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    import os
    assert os.listdir(ckpt), "reliable checkpoint wrote nothing"


def test_cross_corpus_neardup_planted_pairs(spark):
    """New-crawl docs near-duplicating the prior corpus are flagged with
    their ref twin; genuinely novel docs are not."""
    ref = spark.createDataFrame([
        (1, "the cat sat on the mat and looked at the dog while it rained"),
        (2, "completely different text about spark query engines at scale"),
    ], "doc_id long, text string")
    new = spark.createDataFrame([
        # near-dup of ref 1 (one word changed)
        (10, "the cat sat on the mat and stared at the dog while it rained"),
        # exact dup of ref 2
        (11, "completely different text about spark query engines at scale"),
        # novel
        (12, "ein gänzlich anderes dokument über verteilte datenverarbeitung"
             " und parkettdateien im rechenzentrum"),
    ], "doc_id long, text string")
    got = {(r["new_id"], r["ref_id"]): r["jaccard"]
           for r in dedup.cross_corpus_neardup(new, ref,
                                               threshold=0.5).collect()}
    assert (11, 2) in got and got[(11, 2)] == 1.0
    assert (10, 1) in got and 0.5 <= got[(10, 1)] < 1.0
    assert not any(n == 12 for n, _ in got)


def test_cross_corpus_never_self_joins_union(spark):
    """Pairs WITHIN one corpus must not appear — only new x ref."""
    dup_text = "identical boilerplate text repeated across the new crawl"
    new = spark.createDataFrame(
        [(i, dup_text) for i in range(5)], "doc_id long, text string")
    ref = spark.createDataFrame(
        [(100, "some unrelated reference document about something else")],
        "doc_id long, text string")
    assert dedup.cross_corpus_neardup(new, ref, threshold=0.5).count() == 0


def test_line_dedup_removes_boilerplate_lines(spark):
    """C4-style corpus-level line dedup: lines in >= 2 distinct docs drop,
    unique lines survive in original order, every doc survives (possibly
    empty), and within-doc repetition alone never triggers a drop."""
    from data_quality_autohealer_spark.operators.dedup import line_dedup

    docs = [
        (0, "cookie banner\nreal content zero\nfooter text"),
        (1, "cookie banner\nunique middle one\nfooter text"),
        (2, "self repeated\nself repeated\nonly here"),
        (3, "cookie banner"),
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert len(out) == 5
    assert out[0]["text_deduped"] == "real content zero"
    assert out[1]["text_deduped"] == "unique middle one"
    # doc 2: 'self repeated' occurs twice but only in ONE doc -> kept
    assert out[2]["text_deduped"] == "self repeated\nself repeated\nonly here"
    assert out[3]["text_deduped"] == "" and out[3]["n_lines_dropped"] == 1
    assert out[4]["text_deduped"] == "" and out[4]["n_lines_dropped"] == 0
    assert out[0]["n_lines_kept"] == 1 and out[0]["n_lines_dropped"] == 2


def test_paragraph_dedup_unit(spark):
    """unit='paragraph': blank-line-separated paragraphs are the dedup
    grain (CCNet granularity) — a multi-line paragraph is ONE unit, runs
    of 2+ newlines collapse to one canonical blank line on rebuild, and
    single-newline lines inside a paragraph never dedup."""
    import duckdb
    import pandas as pd

    from data_quality_autohealer_spark.operators.dedup import (
        duckdb_line_dedup_sql, line_dedup,
    )

    boiler = "subscribe now\nget our newsletter"   # multi-LINE paragraph
    docs = [
        (0, f"unique alpha text\n\n{boiler}\n\nmore alpha prose"),
        (1, f"unique beta text\n\n\n{boiler}"),     # 3 newlines = one sep
        (2, "subscribe now"),  # matches a LINE of boiler, not the para
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           line_dedup(df, unit="paragraph").collect()}
    assert out[0]["text_deduped"] == "unique alpha text\n\nmore alpha prose"
    assert out[0]["n_lines_dropped"] == 1
    assert out[1]["text_deduped"] == "unique beta text"
    # the single-line doc 2 does NOT match the two-line paragraph
    assert out[2]["text_deduped"] == "subscribe now"
    # DuckDB twin parity on the same frame
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(
        {"doc_id": [i for i, _ in docs], "text": [t for _, t in docs]}))
    duck = con.execute(
        duckdb_line_dedup_sql("docs", unit="paragraph")
        + " order by 1").fetchall()
    want = [tuple(out[i]) for i in sorted(out)]
    assert want == duck


def test_canonical_dedup_collapses_variants(spark):
    """Fuzzy-exact dedup: case/punctuation/whitespace variants share a
    canonical hash; genuinely different texts do not."""
    from data_quality_autohealer_spark.operators.dedup import (
        canonical_dedup_groups,
    )

    docs = [(0, "Hello, World!"), (1, "hello world"),
            (2, "hello   world"), (3, "HELLO WORLD."),
            (4, "goodbye world")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = canonical_dedup_groups(df).collect()
    by_rep = {r["rep_id"]: r for r in out}
    assert len(out) == 2
    assert by_rep[0]["dup_count"] == 4
    assert by_rep[0]["n_raw_variants"] == 4  # all four raw texts distinct
    assert by_rep[4]["dup_count"] == 1


def test_url_canonicalization_rules(spark):
    """Each canonicalization rule verified on a crafted URL, engine-paired:
    the Spark expression and the DuckDB twin produce identical strings."""
    import duckdb

    from data_quality_autohealer_spark.functions.urls import (
        canonical_url_sql,
    )

    cases = [
        ("HTTP://WWW.Host1.Example/P/3/?utm_source=feed#sec",
         "http://host1.example/p/3"),
        ("http://host2.example/p/4?utm_campaign=a&id=2",
         "http://host2.example/p/4?id=2"),
        ("http://host2.example/p/4?id=2&utm_campaign=a",
         "http://host2.example/p/4?id=2"),
        # adjacent tracking params all drop (structural filter, not
        # regex surgery that fails to converge)
        ("http://host2.example/p?utm_a=1&utm_b=2&id=3",
         "http://host2.example/p?id=3"),
        # look-alike names are NOT tracking params and must survive intact
        ("http://host6.example/p?href=x&id=2",
         "http://host6.example/p?href=x&id=2"),
        ("http://host6.example/p?xutm_source=1&id=4",
         "http://host6.example/p?xutm_source=1&id=4"),
        # :80 is default for http only; https://...:80 stays distinct
        ("https://www.host3.example:80/x/", "https://host3.example:80/x"),
        ("http://www.host3.example:80/x/", "http://host3.example/x"),
        ("http://host7.example:80", "http://host7.example"),
        # advice-r04: the strip is anchored to the AUTHORITY — ':80' in a
        # path segment or query value is data, not a port, and two URLs
        # differing there must stay distinct
        ("http://host8.example/a:80/b", "http://host8.example/a:80/b"),
        ("http://host8.example:80/a:80/b?x=:80",
         "http://host8.example/a:80/b?x=:80"),
        ("http://host4.example/p/9?id=1", "http://host4.example/p/9?id=1"),
        ("http://host5.example/a/?id=3", "http://host5.example/a?id=3"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in df.selectExpr(
        f"{canonical_url_sql('url', 'spark')} as c").collect()]
    assert got == [c for _, c in cases]
    con = duckdb.connect()
    for raw, want in cases:
        duck = con.execute(
            "select " + canonical_url_sql(f"'{raw}'", "duck")).fetchone()[0]
        assert duck == want, (raw, duck, want)


def test_url_canonicalization_idempotent_and_engine_identical(spark):
    """On a seeded corpus of adversarial URL shapes: canonical(canonical(u))
    == canonical(u) (the classic canonicalizer bug-catcher) and the Spark
    expression equals the DuckDB twin string-for-string."""
    import duckdb
    import random

    from data_quality_autohealer_spark.functions.urls import (
        canonical_url_sql,
    )

    rng = random.Random(42)
    schemes = ["http://", "HTTP://", "https://", "HTTPS://"]
    hosts = ["www.Site.com", "site.com", "WWW.SITE.COM", "a.b.example:80"]
    paths = ["", "/", "/x", "/x/", "/x/y/", "/X/Y"]
    queries = ["", "?", "?id=1", "?utm_source=a", "?utm_a=1&utm_b=2",
               "?id=1&utm_c=3", "?utm_d=4&id=2", "?ref=t&fbclid=z&id=5"]
    frags = ["", "#f", "#utm_source=x"]
    urls = ["".join([rng.choice(schemes), rng.choice(hosts),
                     rng.choice(paths), rng.choice(queries),
                     rng.choice(frags)]) for _ in range(300)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    c1 = canonical_url_sql("url", "spark")
    out = df.selectExpr("url", f"{c1} as c").selectExpr(
        "url", "c", f"{canonical_url_sql('c', 'spark')} as cc").collect()
    con = duckdb.connect()
    for r in out:
        assert r["cc"] == r["c"], f"not idempotent: {r['url']!r} -> " \
            f"{r['c']!r} -> {r['cc']!r}"
        duck = con.execute("select " + canonical_url_sql(
            f"'{r['url']}'", "duck")).fetchone()[0]
        assert duck == r["c"], (r["url"], duck, r["c"])


def test_signature_index_round_trip_equals_direct(spark, tmp_path):
    """The persisted near-dup index reproduces cross_corpus_neardup
    EXACTLY: build the index over the reference corpus, write/read it as
    parquet, decontaminate against it — identical (new_id, ref_id,
    jaccard) set, with no reference text read at query time."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    new = docs.where("doc_id % 3 != 0")
    ref = docs.where("doc_id % 3 = 0")
    direct = {(r["new_id"], r["ref_id"], r["jaccard"])
              for r in dedup.cross_corpus_neardup(
                  new, ref, threshold=0.5).collect()}
    path = str(tmp_path / "sig_index")
    dedup.build_signature_index(ref).write.parquet(path)
    back = spark.read.parquet(path)
    via = {(r["new_id"], r["ref_id"], r["jaccard"])
           for r in dedup.neardup_against_index(
               new, back, threshold=0.5).collect()}
    assert direct == via and len(via) > 0
    # the stored index carries only ids + buckets + hashed shingles
    assert set(back.columns) == {"doc_id", "buckets", "ngrams"}


def test_intra_doc_line_dedup_keeps_first_occurrence(spark):
    """Within-doc repeated lines collapse to their first occurrence in
    order; blank lines always survive; other docs are untouched."""
    from data_quality_autohealer_spark.operators.dedup import (
        intra_doc_line_dedup,
    )

    docs = [
        (0, "alpha\nbeta\nalpha\n\nbeta\ngamma"),
        (1, "no repeats here\nat all"),
        (2, "\n\n"),  # only blanks: all kept
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in intra_doc_line_dedup(df).collect()}
    assert out[0]["text_deduped"] == "alpha\nbeta\n\ngamma"
    assert out[0]["n_lines_dropped"] == 2
    assert out[1]["text_deduped"] == "no repeats here\nat all"
    assert out[1]["n_lines_dropped"] == 0
    assert out[2]["text_deduped"] == "\n\n" and out[2]["n_lines_dropped"] == 0


def test_line_dedup_randomized_vs_bruteforce(spark):
    """Randomized equivalence: line_dedup and intra_doc_line_dedup vs
    independent pure-Python brute-force oracles over corpora drawn from a
    small line vocabulary (guaranteeing heavy cross-doc and within-doc
    duplication), three seeds."""
    import random

    from data_quality_autohealer_spark.operators.dedup import (
        intra_doc_line_dedup, line_dedup,
    )

    vocab = [f"line {i}" for i in range(12)] + ["", "  "]
    for seed in (7, 42, 1337):
        rng = random.Random(seed)
        docs = [(i, "\n".join(rng.choice(vocab)
                              for _ in range(rng.randint(0, 8))))
                for i in range(30)]
        df = spark.createDataFrame(docs, "doc_id long, text string")

        # brute force corpus-level: lines (trimmed, non-blank) in >= 2
        # distinct docs drop everywhere
        from collections import defaultdict
        doc_lines = {i: t.split("\n") for i, t in docs}
        by_line = defaultdict(set)
        for i, lines in doc_lines.items():
            for ln in lines:
                if ln.strip():
                    by_line[ln.strip()].add(i)
        dup = {ln for ln, ids in by_line.items() if len(ids) >= 2}
        expect = {}
        for i, lines in doc_lines.items():
            kept = [ln for ln in lines if ln.strip() not in dup
                    or not ln.strip()]
            dropped = len(lines) - len(kept)
            expect[i] = ("\n".join(kept), len(kept), dropped)
        got = {r["doc_id"]: (r["text_deduped"], r["n_lines_kept"],
                             r["n_lines_dropped"])
               for r in line_dedup(df).collect()}
        assert got == expect, f"line_dedup mismatch at seed {seed}"

        # brute force intra-doc: first occurrence of each trimmed
        # non-blank line survives
        expect2 = {}
        for i, lines in doc_lines.items():
            seen, kept, dropped = set(), [], 0
            for ln in lines:
                key = ln.strip()
                if not key or key not in seen:
                    kept.append(ln)
                    seen.add(key)
                else:
                    dropped += 1
            expect2[i] = ("\n".join(kept), dropped)
        got2 = {r["doc_id"]: (r["text_deduped"], r["n_lines_dropped"])
                for r in intra_doc_line_dedup(df).collect()}
        assert got2 == expect2, f"intra_doc mismatch at seed {seed}"


def test_decontaminate_chain_stages_partition_the_input(spark):
    """decontaminate_chain reconciliation (VERDICT-r04 task 5): the exact
    (Bloom) and fuzzy (stored-index near-dup) stages PARTITION the new
    corpus — bloom_dropped + neardup_dropped + kept = docs_in — and each
    stage agrees with its independently-verified twin: every verbatim
    text match is claimed by the Bloom stage (no false negatives), and
    the neardup stage equals neardup_against_index run over the exact
    survivors."""
    import __spark_entry__ as entry_mod
    from data_quality_autohealer_spark.operators import bloom as bloom_mod
    from data_quality_autohealer_spark.operators import dedup as dedup_mod

    sf_dir = "/root/testdata/sf0.001"
    out = entry_mod.queries()["decontaminate_chain"](spark, sf_dir)
    rows = out.collect()
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r["stage"], set()).add(r["doc_id"])
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    new = docs.where("doc_id % 3 != 0")
    ref = docs.where("doc_id % 3 = 0")
    n_in = new.count()
    # stages partition the input: disjoint, exhaustive, one row per doc
    assert len(rows) == n_in
    assert sum(len(s) for s in by_stage.values()) == n_in
    # no false negatives: every new doc whose text appears VERBATIM in the
    # reference must be claimed by the exact stage
    verbatim = {r["doc_id"] for r in
                new.join(ref.select("text").distinct(), "text").collect()}
    assert verbatim <= by_stage.get("bloom_exact", set())
    # exact stage ≡ its standalone twin
    bloom_kept = {r["doc_id"] for r in bloom_mod.decontaminate_bloom(
        new, ref, "text").select("doc_id").collect()}
    assert by_stage.get("bloom_exact", set()) == \
        {r["doc_id"] for r in new.select("doc_id").collect()} - bloom_kept
    # fuzzy stage ≡ neardup_against_index over the exact survivors
    survivors1 = new.where(~new.doc_id.isin(
        list(by_stage.get("bloom_exact", set()))))
    flagged = {r["new_id"] for r in dedup_mod.neardup_against_index(
        survivors1, dedup_mod.build_signature_index(ref),
        threshold=0.5).select("new_id").collect()}
    assert by_stage.get("neardup", set()) == flagged


def test_incremental_novelty_equals_full_corpus_restriction(spark, tmp_path):
    """ngram_novelty_vs_census == full-corpus ngram_novelty restricted to
    the wave's docs (combined frequency = wave count + stored count, by
    construction), with the census persisted to parquet and read back —
    the accumulated corpus's text is never re-read."""
    from data_quality_autohealer_spark.operators.dedup import (
        build_ngram_census, ngram_novelty, ngram_novelty_vs_census,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    ref = docs.where("doc_id % 3 = 0")
    wave = docs.where("doc_id % 3 != 0")

    census_path = str(tmp_path / "ngram_census")
    build_ngram_census(ref).write.parquet(census_path)
    stored = spark.read.parquet(census_path)

    incr = {r["doc_id"]: (r["n_ngrams"], r["novel_frac"])
            for r in ngram_novelty_vs_census(wave, stored).collect()}
    full = {r["doc_id"]: (r["n_ngrams"], r["novel_frac"])
            for r in ngram_novelty(docs).collect()
            if r["doc_id"] % 3 != 0}
    assert incr == full and len(incr) > 0


def test_incremental_novelty_appended_multiwave_census(spark, tmp_path):
    """A census APPENDED wave-by-wave to one table has duplicate hash
    rows; ngram_novelty_vs_census must re-aggregate them (review finding:
    a raw join would fan out and silently inflate n_ngrams). Scoring wave
    3 against waves 1+2 appended must equal scoring it against a census
    built over waves 1∪2 in one shot."""
    from data_quality_autohealer_spark.operators.dedup import (
        build_ngram_census, ngram_novelty_vs_census,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    w1 = docs.where("doc_id % 3 = 0")
    w2 = docs.where("doc_id % 3 = 1")
    w3 = docs.where("doc_id % 3 = 2")

    path = str(tmp_path / "census_waves")
    build_ngram_census(w1).write.mode("append").parquet(path)
    build_ngram_census(w2).write.mode("append").parquet(path)
    appended = spark.read.parquet(path)
    # duplicate h rows really exist (shared shingles between waves)
    assert appended.count() > appended.select("h").distinct().count()

    got = {r["doc_id"]: (r["n_ngrams"], r["novel_frac"])
           for r in ngram_novelty_vs_census(w3, appended).collect()}
    want = {r["doc_id"]: (r["n_ngrams"], r["novel_frac"])
            for r in ngram_novelty_vs_census(
                w3, build_ngram_census(w1.unionByName(w2))).collect()}
    assert got == want and len(got) > 0
