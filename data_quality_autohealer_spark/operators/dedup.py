"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

The reference has no dedup operator (its nearest miss is a duplicate-rows test
fixture, /root/reference/tests/test_profiler.py:82-92); these are the
web-scale additions a 10^12-doc corpus pipeline needs.

Engine-parity design: hash primitives are built on md5 (available and
identical in Spark, DuckDB, and Python hashlib), so every operator here has
an exact DuckDB SQL twin for the correctness oracle. At production scale,
swap md5 for xxhash64 (one line) — md5 keeps the cross-engine oracle honest.

Scale notes:
  * exact dedup: one shuffle on the text hash — dedup on md5(text) (fixed
    width) rather than raw text so shuffle rows stay small.
  * MinHash LSH: signatures and shingle hashes come from one Arrow pass per
    doc (build_signature_index, shuffle-free); the only shuffle is the
    band-bucket groupBy, whose fan-in is the duplicate-cluster size
    (bounded by construction).
  * SimHash: explode(words) → two-level agg; partial aggregation is
    algebraic so map-side combine keeps the shuffle proportional to
    #distinct (doc, bit) pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import forget_zip_finders

# ---------------------------------------------------------------------------
# shared expression builders (Spark SQL + DuckDB SQL from one definition)
# ---------------------------------------------------------------------------


def _words(text: str, engine: str) -> str:
    # canonical ASCII-whitespace tokenizer shared with functions.text_heuristics
    # (explicit class: Java \s / RE2 \s / Python \s all disagree on \x0b and
    # Unicode whitespace)
    from ..functions.text_heuristics import _duck_words, _spark_words
    if engine == "spark":
        return _spark_words(text)
    return _duck_words(text)


def _ngrams_raw(text: str, n: int, engine: str,
                words_col: str | None = None) -> str:
    """Word n-grams (shingles) of a document, with repeats.

    ``words_col``: name of a pre-staged words-array COLUMN. Critical on the
    Spark side: a lambda body that references the split() expression inline
    re-evaluates the split PER ARRAY ELEMENT in interpreted mode (measured
    ~50× blowup); referencing a staged column is an attribute lookup."""
    w = words_col or _words(text, engine)
    joined = " || ' ' || ".join(f"{w}[i + {j}]" for j in range(n))
    if engine == "spark":
        return (f"case when size({w}) < {n} then array(concat_ws(' ', {w})) "
                f"else transform(sequence(0, size({w}) - {n}), i -> {joined}) end")
    return (f"case when len({w}) < {n} then [array_to_string({w}, ' ')] "
            f"else list_transform(generate_series(1, len({w}) - {n - 1}), i -> {joined}) end")


def _ngrams_distinct(text: str, n: int, engine: str,
                     words_col: str | None = None) -> str:
    """Distinct word n-grams (shingles) of a document."""
    ng = _ngrams_raw(text, n, engine, words_col)
    return (f"array_distinct({ng})" if engine == "spark"
            else f"list_distinct({ng})")


# 60-bit integer base hash of a shingle: md5 prefix parsed as hex. md5 is
# the one hash available and bit-identical in Spark, DuckDB and Python —
# everything downstream (MinHash affine family, hashed-Jaccard) derives from
# ONE md5 pass per shingle instead of one per signature.
def _hash_base(var: str, engine: str) -> str:
    if engine == "spark":
        return f"cast(conv(substring(md5({var}), 1, 15), 16, 10) as bigint)"
    return f"('0x' || substr(md5({var}), 1, 15))::bigint"


_MH_PRIME = 2147483647          # 2^31 - 1
_MH_MOD = 1 << 30               # fold the 60-bit base below 2^30 so a*h+b
_MH_A = 1000003                 # stays far under 2^63 (no overflow, both
_MH_B = 7919                    # engines agree exactly on bigint arithmetic)


def _hashed_ngrams(text: str, n: int, engine: str,
                   words_col: str | None = None) -> str:
    """Distinct shingles as 60-bit ints (one md5 pass). Set size — and thus
    Jaccard — matches the string-shingle set except for md5-prefix
    collisions (~|set|²/2^61, negligible), and any collision is IDENTICAL
    across engines, so oracle parity is exact by construction."""
    ng = _ngrams_raw(text, n, engine, words_col)
    if engine == "spark":
        return f"array_distinct(transform({ng}, g -> {_hash_base('g', 'spark')}))"
    return f"list_distinct(list_transform({ng}, g -> {_hash_base('g', 'duck')}))"


def _affine_min(hg: str, i: int, engine: str) -> str:
    """MinHash signature i: min over hashed shingles of an affine transform
    (a_i·h + b_i) mod p — the standard k-hash-family construction from ONE
    base hash, pure integer arithmetic in both engines."""
    a, b = _MH_A + 2 * i, _MH_B * (i + 1)
    if engine == "spark":
        return (f"array_min(transform({hg}, "
                f"h -> ({a} * (h % {_MH_MOD}) + {b}) % {_MH_PRIME}))")
    return (f"list_min(list_transform({hg}, "
            f"h -> ({a} * (h % {_MH_MOD}) + {b}) % {_MH_PRIME}))")


def minhash_sig_exprs(text: str, k: int, n: int, engine: str,
                      hashed_col: str | None = None) -> list[str]:
    """k MinHash signatures as SQL fragments aliased sig_0..sig_{k-1}.

    ``hashed_col``: name of a pre-staged hashed-shingle array column (the
    Spark operators stage it once so Catalyst computes the md5 pass per
    document, not per signature)."""
    hg = hashed_col or _hashed_ngrams(text, n, engine)
    return [f"{_affine_min(hg, i, engine)} as sig_{i}" for i in range(k)]


# ---------------------------------------------------------------------------
# batched (Arrow) twins of the hashed-shingle builders — round 7, guide §4.2.
#
# The native expression chain (regex split → transform-concat shingles → one
# md5 + conv PER SHINGLE OCCURRENCE) runs interpreted and dominated every
# chain query at sf1.0 (~7 s per pass, and most chains run it 2-3×).  These
# compute the identical values in one Arrow crossing: same ASCII-whitespace
# tokenizer (the signal-twin split, tests/test_signal_twins.py), same
# " "-joined shingles with the <n-words whole-text convention, same
# md5-prefix 60-bit hash (memoized per distinct shingle per worker), same
# distinct-after-hash first-occurrence order.  Parity is pinned by
# tests/test_dedup_batched_twins.py and by every chain query's DuckDB hash.
# ---------------------------------------------------------------------------

_PY_HASH_MEMO: dict[str, int] = {}
_PY_HASH_MEMO_CAP = 2_000_000  # stop growing on mostly-unique gram streams


def _py_hash_base(g: str) -> int:
    """Python twin of _hash_base: 60-bit md5-prefix int."""
    h = _PY_HASH_MEMO.get(g)
    if h is None:
        import hashlib
        h = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
        if len(_PY_HASH_MEMO) < _PY_HASH_MEMO_CAP:
            _PY_HASH_MEMO[g] = h
    return h


def _py_words(t: str | None) -> list[str]:
    """Python twin of _words('…', 'spark'): strip ASCII whitespace, split
    on ASCII-whitespace runs ('' stays [''], matching Java split)."""
    import re
    from ..functions.text_heuristics import _WS_CHARS
    ws_re = getattr(_py_words, "_re", None)
    if ws_re is None:
        ws_re = re.compile("[" + _WS_CHARS + "]+")
        _py_words._re = ws_re
    return ws_re.split((t or "").strip(_WS_CHARS))


def _py_gram_hashes(w: list[str], n: int, distinct: bool) -> list[int]:
    """Python twin of _hashed_ngrams (distinct=True) / the _hashed_seq
    positional variant (distinct=False), over _py_words output."""
    if len(w) < n:
        grams = [" ".join(w)]
    else:
        grams = [" ".join(w[i:i + n]) for i in range(len(w) - n + 1)]
    if not distinct:
        return [_py_hash_base(g) for g in grams]
    seen: set[int] = set()
    out: list[int] = []
    for g in grams:
        h = _py_hash_base(g)
        if h not in seen:
            seen.add(h)
            out.append(h)
    return out


def hashed_ngrams_batched_udf(n: int, distinct: bool = True):
    """pandas UDF: text → array<long> of hashed word n-grams."""

    @F.pandas_udf("array<long>")
    def _hg(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for text in batches:
            yield pd.Series(
                [_py_gram_hashes(_py_words(t), n, distinct) for t in text],
                index=text.index)

    # nondeterministic: stop filter pushdown from cloning the Arrow node
    # (guide §4.4) — chain consumers always force every row anyway
    return _hg.asNondeterministic()


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's core count when the
    input plan has fewer partitions (a single-row-group parquet file scans
    as ONE task, serializing Arrow passes behind one Python worker).
    Scale-adaptive — derived from defaultParallelism, never a constant;
    inputs already at ≥ cores partitions pass through untouched."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _signature_udf(k: int, shingle_n: int, jaccard_n: int):
    """pandas UDF: text → struct<sigs, ngrams>, both array<long>, from ONE
    tokenisation per doc: the k MinHash signatures of :func:`with_minhash`
    (affine min over the distinct ``shingle_n``-gram hashes, exact int64
    arithmetic — a·(h mod 2³⁰)+b < 2⁵¹ never overflows) and the distinct
    ``jaccard_n``-gram hashes the Jaccard verify reads (the same list when
    the two n agree).  Values equal the native builders
    (tests/test_dedup_batched_twins.py); the lazy native with_minhash stays
    for the projection-shaped minhash_signatures query, whose cost count()
    prunes away."""
    import numpy as np

    a_vec = np.array([[_MH_A + 2 * i] for i in range(k)], dtype=np.int64)
    b_vec = np.array([[_MH_B * (i + 1)] for i in range(k)], dtype=np.int64)

    @F.pandas_udf("sigs array<long>, ngrams array<long>")
    def _sig(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for text in batches:
            sigs, ngrams = [], []
            for t in text:
                w = _py_words(t)
                hs = _py_gram_hashes(w, shingle_n, True)
                h = np.array(hs, dtype=np.int64) % _MH_MOD
                sigs.append(((a_vec * h + b_vec) % _MH_PRIME)
                            .min(axis=1).tolist())
                ngrams.append(hs if jaccard_n == shingle_n
                              else _py_gram_hashes(w, jaccard_n, True))
            yield pd.DataFrame({"sigs": sigs, "ngrams": ngrams},
                               index=text.index)
        forget_zip_finders()

    return _sig.asNondeterministic()


def band_exprs(k: int, rows_per_band: int, engine: str) -> list[str]:
    """LSH band keys: md5 of the concatenated signature rows in each band."""
    bands = []
    n_bands = k // rows_per_band
    for b in range(n_bands):
        sigs = [f"sig_{b * rows_per_band + r}" for r in range(rows_per_band)]
        if engine == "spark":
            bands.append(f"md5(concat_ws('|', {', '.join(sigs)})) as band_{b}")
        else:
            concat = " || '|' || ".join(f"{s}::varchar" for s in sigs)
            bands.append(f"md5({concat}) as band_{b}")
    return bands


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: one row per distinct text with the minimal id
    as representative and the duplicate count. Shuffles md5(text) (16 bytes),
    not the full text."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("rep_id"),
             F.count(F.lit(1)).cast("long").alias("dup_count"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (minimal id) per distinct text."""
    w = exact_dedup_groups(df, text_col, id_col).select(
        F.col("rep_id").alias(id_col))
    return df.join(w, on=id_col, how="left_semi")


def canonical_text_sql(text: str, engine: str) -> str:
    """Normalized text for fuzzy-exact dedup (the C4/RefinedWeb
    "normalize then hash" convention): lowercase, strip portable
    punctuation, collapse whitespace runs to one space, trim. Catches
    case/punctuation/spacing variants that byte-exact md5 misses while
    staying a pure deterministic expression in both engines."""
    from ..functions import text_heuristics as th

    g = ", 'g'" if engine == "duck" else ""
    ws = th._WS_CLASS_DUCK if engine == "duck" else th._WS_CLASS_SPARK
    e = f"lower({text})"
    e = f"regexp_replace({e}, '[.,;:!?()]', ''{g})"
    e = f"regexp_replace({e}, '{ws}+', ' '{g})"
    return f"trim({e})"


def canonical_dedup_groups(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Fuzzy-exact duplicate groups over the canonicalized text: one row
    per canonical form with the minimal id as representative, the group
    size, and how many DISTINCT raw texts it collapsed. Same 16 B/doc
    hash-shuffle shape as exact_dedup_groups."""
    canon = canonical_text_sql(text_col, "spark")
    return (df.select(F.col(id_col),
                      F.md5(F.col(text_col)).alias("_raw_hash"),
                      F.md5(F.expr(canon)).alias("canon_hash"))
            .groupBy("canon_hash")
            .agg(F.min(id_col).alias("rep_id"),
                 F.count(F.lit(1)).cast("long").alias("dup_count"),
                 F.countDistinct("_raw_hash").cast("long")
                 .alias("n_raw_variants")))


def duckdb_canonical_dedup_sql(table: str = "documents",
                               text_col: str = "text",
                               id_col: str = "doc_id") -> str:
    canon = canonical_text_sql(text_col, "duck")
    return f"""
        select md5({canon}) as canon_hash,
               min({id_col}) as rep_id,
               count(*)::bigint as dup_count,
               count(distinct md5({text_col}))::bigint as n_raw_variants
        from {table}
        group by md5({canon})
    """


def canonical_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (minimal id) per canonical text form — the
    keep-one companion of canonical_dedup_groups (exact_dedup shape)."""
    w = canonical_dedup_groups(df, text_col, id_col).select(
        F.col("rep_id").alias(id_col))
    return df.join(w, on=id_col, how="left_semi")


# dedup granularities: split regex + rebuild separator per unit.
# paragraph = blank-line separated (CCNet/Wenzek et al. paragraph hashes);
# runs of 2+ newlines collapse to one canonical '\n\n' on rebuild. The
# pattern strings are valid in Java regex AND RE2 (DuckDB) — '\n' is an
# escape in both.
_UNITS = {
    "line": ("\n", "\n"),
    "paragraph": ("\n{2,}", "\n\n"),
}


def line_dedup(df: DataFrame, min_doc_count: int = 2,
               text_col: str = "text", id_col: str = "doc_id",
               unit: str = "line") -> DataFrame:
    """C4-style corpus-level line dedup (boilerplate removal): drop every
    line whose exact trimmed text occurs in >= ``min_doc_count`` DISTINCT
    documents (nav bars, cookie banners, footers), then rebuild each
    document from its surviving lines in original order. Returns
    (id, text_deduped, n_lines_kept, n_lines_dropped) — every input doc
    survives, possibly with empty text. ``unit='paragraph'`` dedups
    blank-line-separated paragraphs instead (the CCNet granularity);
    identical shuffle shape — only the split regex changes.

    Scale shape: posexplode lines once; the duplicate census groups on the
    60-bit md5 base hash (16 B/line shuffle, map-side-combined distinct-doc
    counts), never on line text; the dup set joins back on the same 8-byte
    key. Blank lines are never counted as duplicates. Hash collisions are
    part of the (engine-identical) semantics, as with minhash/_hash_base.
    NULL-text docs vanish in BOTH engines (split(NULL) explodes to zero
    rows; DuckDB unnest(NULL) likewise) — filter or coalesce upstream if
    they must survive.
    """
    split_re, join_sep = _UNITS[unit]
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), split_re))
        .alias("pos", "line"))
    keyed = lines.withColumn(
        "lhash",
        F.when(F.trim("line") != "",
               F.expr(_hash_base("trim(line)", "spark"))))
    dup = (keyed.where(F.col("lhash").isNotNull())
           .groupBy("lhash")
           .agg(F.countDistinct(id_col).alias("nd"))
           .where(F.col("nd") >= min_doc_count)
           .select("lhash", F.lit(True).alias("_dup")))
    marked = keyed.join(dup, "lhash", "left")
    kept_struct = F.when(F.col("_dup").isNull(),
                         F.struct("pos", "line"))
    return (marked.groupBy(id_col)
            .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["line"]),
                    join_sep).alias("text_deduped"),
                 F.sum(F.when(F.col("_dup").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_lines_kept"),
                 F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0))
                 .cast("long").alias("n_lines_dropped")))


def intra_doc_line_dedup(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """WITHIN-document repeated-line removal (terminal-spam / template
    cleanup — the other axis from corpus-level :func:`line_dedup`): keep
    only the FIRST occurrence of each trimmed line inside a doc; blank
    lines are formatting and always survive. Returns
    (id, text_deduped, n_lines_dropped).

    Scale shape: posexplode + one window per (doc, line-hash) — partition
    keys include the doc id, so parallelism is per-document and no global
    state exists; rebuild is the line_dedup groupBy."""
    from pyspark.sql.window import Window

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))
    keyed = lines.withColumn(
        "lhash",
        F.when(F.trim("line") != "",
               F.expr(_hash_base("trim(line)", "spark"))))
    w = Window.partitionBy(id_col, "lhash").orderBy("pos")
    marked = keyed.withColumn(
        "_keep", F.col("lhash").isNull()
        | (F.row_number().over(w) == 1))
    kept_struct = F.when(F.col("_keep"), F.struct("pos", "line"))
    return (marked.groupBy(id_col)
            .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["line"]),
                    "\n").alias("text_deduped"),
                 F.sum(F.when(~F.col("_keep"), 1).otherwise(0))
                 .cast("long").alias("n_lines_dropped")))


def duckdb_intra_doc_line_dedup_sql(table: str = "documents",
                                    text_col: str = "text",
                                    id_col: str = "doc_id") -> str:
    lh = _hash_base("trim(line)", "duck")
    return f"""
        with l as (
            select {id_col}, unnest(generate_series(1, len(ln))) as pos,
                   unnest(ln) as line
            from (select {id_col}, string_split({text_col}, chr(10)) as ln
                  from {table})
        ),
        k as (select {id_col}, pos, line,
                     case when trim(line) <> '' then {lh} end as lhash
              from l),
        m as (select {id_col}, pos, line,
                     lhash is null
                     or row_number() over (partition by {id_col}, lhash
                                           order by pos) = 1 as keep
              from k)
        select {id_col},
               coalesce(string_agg(case when keep then line end,
                                   chr(10) order by pos), '')
                   as text_deduped,
               count(case when not keep then 1 end)::bigint
                   as n_lines_dropped
        from m group by {id_col}
    """


def duckdb_line_dedup_sql(table: str = "documents", min_doc_count: int = 2,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          unit: str = "line") -> str:
    """Twin: parallel unnests (DuckDB zips equal-length unnests) give
    (pos, line); same 60-bit trimmed-line hash; string_agg ordered by pos
    rebuilds (coalesced to '' — string_agg of zero rows is NULL)."""
    lh = _hash_base("trim(line)", "duck")
    if unit == "paragraph":
        # '\n' is an RE2 escape; DuckDB standard strings keep the
        # backslash, so the pattern literal reads '\n{2,}' verbatim
        split = f"string_split_regex({text_col}, '\\n{{2,}}')"
        sep = "chr(10) || chr(10)"
    else:
        split = f"string_split({text_col}, chr(10))"
        sep = "chr(10)"
    return f"""
        with l as (
            select {id_col}, unnest(generate_series(1, len(ln))) as pos,
                   unnest(ln) as line
            from (select {id_col}, {split} as ln
                  from {table})
        ),
        k as (select {id_col}, pos, line,
                     case when trim(line) <> '' then {lh} end as lhash
              from l),
        d as (select lhash from k where lhash is not null
              group by lhash having count(distinct {id_col}) >= {min_doc_count})
        select k.{id_col},
               coalesce(string_agg(case when d.lhash is null then k.line end,
                                   {sep} order by k.pos), '')
                   as text_deduped,
               count(case when d.lhash is null then 1 end)::bigint
                   as n_lines_kept,
               count(d.lhash)::bigint as n_lines_dropped
        from k left join d on k.lhash = d.lhash
        group by k.{id_col}
    """


def with_minhash(df: DataFrame, text_col: str = "text", k: int = 8,
                 shingle_n: int = 3) -> DataFrame:
    """Attach sig_0..sig_{k-1} MinHash columns (native exprs, shuffle-free).

    The hashed-shingle array is STAGED as one column referenced k times, so
    Catalyst keeps it as a separate projection (CollapseProject won't inline
    a non-cheap alias with >1 reference) and the md5 pass runs once per doc;
    each signature is then a cheap affine min-scan."""
    df = df.withColumn("_w", F.expr(_words(text_col, "spark")))
    df = df.withColumn(
        "_hg", F.expr(_hashed_ngrams(text_col, shingle_n, "spark",
                                     words_col="_w")))
    df = df.selectExpr(
        "*", *minhash_sig_exprs(text_col, k, shingle_n, "spark",
                                hashed_col="_hg"))
    return df.drop("_w", "_hg")


DEFAULT_MAX_BUCKET = 1000


def _stack(index_df: DataFrame, id_col: str,
           max_bucket_size: int | None) -> DataFrame:
    """(id, bucket) rows of a :func:`build_signature_index` frame, with
    buckets above ``max_bucket_size`` dropped via a window count over the
    same bucket key any downstream join shuffles on (exchange reused).
    explode_outer, because a plain explode gets an inferred size() > 0
    filter re-evaluating every band md5 below it; buckets is never empty,
    so the rows are the same."""
    from pyspark.sql.window import Window

    stacked = index_df.select(F.col(id_col),
                              F.explode_outer("buckets").alias("bucket"))
    if max_bucket_size is not None:
        w = Window.partitionBy("bucket")
        stacked = (stacked
                   .withColumn("_bsz", F.count(F.lit(1)).over(w))
                   .where(F.col("_bsz") <= max_bucket_size)
                   .drop("_bsz"))
    return stacked


def _lsh_pairs(index_df: DataFrame, id_col: str,
               max_bucket_size: int | None) -> DataFrame:
    """(id_a, id_b) with id_a < id_b: docs sharing a capped band bucket."""
    stacked = _stack(index_df, id_col, max_bucket_size)
    a, b = stacked.alias("a"), stacked.alias("b")
    return (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 8,
                      rows_per_band: int = 2, shingle_n: int = 3,
                      max_bucket_size: int | None = DEFAULT_MAX_BUCKET
                      ) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing any LSH band bucket.

    Self-join per band on the band key; dedup pairs across bands. Bucket
    sizes are duplicate-cluster sizes, so the join fan-out is bounded for
    organic duplication — but one viral boilerplate cluster of m docs would
    enumerate O(m²) pairs, so buckets larger than ``max_bucket_size`` are
    DROPPED before the self-join (docs/SCALE.md): a bucket that large is
    boilerplate by definition and is better handled by exact_dedup upstream.
    The cap is a window count over the same ``bucket`` key the self-join
    shuffles on, so the exchange is reused (one shuffle, not two).
    ``max_bucket_size=None`` disables the cap (oracle/testing only).
    """
    return _lsh_pairs(
        build_signature_index(df, text_col, id_col, k, rows_per_band,
                              shingle_n, jaccard_n=shingle_n),
        id_col, max_bucket_size)


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        block_cols: list[str] | None = None) -> DataFrame:
    """Pairwise n-gram Jaccard similarity above a threshold.

    Blocked self-join (same ``block_cols`` values) to avoid the full O(N²)
    cross product; at web scale use minhash_lsh_pairs to generate candidates
    and this only to verify them.
    """
    ng = _ngrams_distinct(text_col, n, "spark", words_col="_w")
    base = (df.withColumn("_w", F.expr(_words(text_col, "spark")))
            .selectExpr(id_col, *(block_cols or []), f"{ng} as ngrams"))
    a, b = base.alias("a"), base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in (block_cols or []):
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    jac = (F.size(F.array_intersect(F.col("a.ngrams"), F.col("b.ngrams")))
           / F.size(F.array_union(F.col("a.ngrams"), F.col("b.ngrams"))))
    return (
        a.join(b, cond)
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _verify(cand: DataFrame, left: DataFrame, right: DataFrame,
            threshold: float) -> DataFrame:
    """Jaccard verify of candidate pairs over hashed shingle sets.
    ``cand``'s two columns name the pair's ids; ``left`` / ``right`` are
    (id, ngrams) frames for the first / second id. Returns the pairs with
    ``jaccard`` at/above ``threshold``.

    The intersection SIZE is staged as a column referenced twice (numerator
    + union-size identity |A∪B| = |A|+|B|−|A∩B|): one array pass per pair,
    and the threshold filter inlines only cheap scalar arithmetic instead
    of re-evaluating the array intersect under predicate pushdown."""
    a_id, b_id = cand.columns
    sized = (cand.join(left.toDF(a_id, "_ng_a"), a_id)
             .join(right.toDF(b_id, "_ng_b"), b_id)
             .select(a_id, b_id,
                     F.size(F.array_intersect("_ng_a", "_ng_b")).alias("_i"),
                     F.size("_ng_a").alias("_sa"),
                     F.size("_ng_b").alias("_sb")))
    jac = F.round(F.col("_i")
                  / (F.col("_sa") + F.col("_sb") - F.col("_i")), 6)
    return (sized.select(a_id, b_id, jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def jaccard_verify_pairs(df: DataFrame, candidates: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Verify candidate pairs (id_a, id_b) by n-gram Jaccard over HASHED
    shingle sets (one 60-bit md5-derived int per distinct shingle).

    The LSH→Jaccard chain: candidates come from :func:`minhash_lsh_pairs`
    (cheap, probabilistic); this stage joins each pair back to the two
    documents' shingle sets and keeps pairs at/above ``threshold``.
    Hashed ints instead of shingle strings cut the join-shuffle payload and
    the intersect/union cost ~10× (4-8 B per shingle instead of ~30); the
    Jaccard value equals the string-set value except for md5-prefix
    collisions (negligible, and identical across engines).
    Scale shape: |candidates| ≪ |docs|², two shuffle joins on the id — the
    verify cost is proportional to the candidate count, never quadratic.
    """
    ng = _spread(df).select(
        F.col(id_col),
        hashed_ngrams_batched_udf(n)(F.col(text_col)).alias("ngrams"))
    return _verify(candidates.select("id_a", "id_b"), ng, ng, threshold)


def cross_corpus_neardup(new_df: DataFrame, ref_df: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         k: int = 8, rows_per_band: int = 2,
                         shingle_n: int = 3, jaccard_n: int = 3,
                         threshold: float = 0.5,
                         max_bucket_size: int | None = DEFAULT_MAX_BUCKET
                         ) -> DataFrame:
    """Near-dups of NEW docs against a PRIOR corpus (decontaminating a new
    crawl against data already in the training set):
    :func:`neardup_against_index` over the prior corpus's
    :func:`build_signature_index`. Returns (new_id, ref_id, jaccard) pairs
    at/above threshold. The reference index is materialized like the
    new side's (see :func:`neardup_against_index`): its stack and the
    verify both read it."""
    ref_index = build_signature_index(ref_df, text_col, id_col, k,
                                      rows_per_band, shingle_n,
                                      jaccard_n).localCheckpoint()
    return neardup_against_index(new_df, ref_index, text_col, id_col, k,
                                 rows_per_band, shingle_n, jaccard_n,
                                 threshold, max_bucket_size)


def duckdb_cross_neardup_sql(new_sql: str, ref_sql: str,
                             text_col: str = "text", id_col: str = "doc_id",
                             k: int = 8, rows_per_band: int = 2,
                             shingle_n: int = 3, jaccard_n: int = 3,
                             threshold: float = 0.5,
                             max_bucket_size: int = DEFAULT_MAX_BUCKET
                             ) -> str:
    """DuckDB twin of :func:`cross_corpus_neardup` — same signatures, band
    keys, per-side bucket caps, hashed-shingle Jaccard."""
    sig_cols = ", ".join(minhash_sig_exprs(text_col, k, shingle_n, "duck"))
    n_bands = k // rows_per_band
    band_cols = ", ".join(band_exprs(k, rows_per_band, "duck"))
    ng = _hashed_ngrams(text_col, jaccard_n, "duck")
    jac = ("round(len(list_intersect(a.ngrams, b.ngrams))::double"
           " / (len(a.ngrams) + len(b.ngrams)"
           " - len(list_intersect(a.ngrams, b.ngrams))), 6)")

    def side(tag, src):
        stacked = " union all ".join(
            f"select {id_col}, '{b}:' || band_{b} as bucket from banded_{tag}"
            for b in range(n_bands))
        return f"""
        src_{tag} as ({src}),
        sig_{tag} as (select {id_col}, {sig_cols} from src_{tag}),
        banded_{tag} as (select {id_col}, {band_cols} from sig_{tag}),
        stacked_{tag} as ({stacked}),
        capped_{tag} as (
            select * from (
                select {id_col}, bucket,
                       count(*) over (partition by bucket) as bsz
                from stacked_{tag}
            ) where bsz <= {max_bucket_size}
        )"""

    return f"""
        with {side('n', new_sql)}, {side('r', ref_sql)},
        cand as (
            select distinct n.{id_col} as new_id, r.{id_col} as ref_id
            from capped_n n join capped_r r on n.bucket = r.bucket
        ),
        ngr_n as (select {id_col}, {ng} as ngrams from src_n),
        ngr_r as (select {id_col}, {ng} as ngrams from src_r)
        select c.new_id, c.ref_id, {jac} as jaccard
        from cand c
        join ngr_n a on a.{id_col} = c.new_id
        join ngr_r b on b.{id_col} = c.ref_id
        where {jac} >= {threshold}
    """


class ComponentsNotConverged(RuntimeError):
    """min-label propagation did not reach a fixpoint within max_iter rounds
    — returning the partial labels would silently split components, so we
    fail loudly instead (the DuckDB oracle twin computes the full transitive
    closure and would disagree)."""


def build_signature_index(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 8,
                          rows_per_band: int = 2, shingle_n: int = 3,
                          jaccard_n: int = 3) -> DataFrame:
    """Near-dup INDEX of a corpus: one row per doc with its LSH band
    buckets (array<string>) and hashed Jaccard shingle set (array<bigint>),
    from one Arrow pass over the text (:func:`_signature_udf`). Every
    near-dup operator reads this frame. Written as a table once per corpus
    wave, it serves every later decontamination pass
    (``neardup_against_index``) — tens of bytes per doc — instead of
    re-tokenizing corpus text. This is how incremental dedup actually runs
    at 10^12 docs: the text is read once when a doc enters the corpus,
    never again.

    No bucket cap here — cap sizes depend on the FINAL corpus, so the cap
    is applied at query time over the exploded index (:func:`_stack`)."""
    n_bands = k // rows_per_band
    sig = _spread(df.select(id_col, text_col)).select(
        id_col,
        _signature_udf(k, shingle_n, jaccard_n)(F.col(text_col)).alias("_s"))
    return (sig.selectExpr(id_col, "_s.ngrams as ngrams",
                           *(f"_s.sigs[{i}] as sig_{i}" for i in range(k)))
            .selectExpr(id_col, "ngrams",
                        *band_exprs(k, rows_per_band, "spark"))
            .selectExpr(
                id_col,
                "array(" + ", ".join(
                    f"concat('{b}:', band_{b})" for b in range(n_bands))
                + ") as buckets",
                "ngrams"))


SIG_PARAMS_FILE = "_sig_params.json"


def signature_index_params(k: int = 8, rows_per_band: int = 2,
                           shingle_n: int = 3, jaccard_n: int = 3) -> dict:
    """The parameter record a signature index is built under. An index
    probed with MISMATCHED (k, rows_per_band, shingle_n, jaccard_n)
    silently flags nothing — bucket strings and shingle hashes from
    different parameters never collide — so every persisted index carries
    this dict as a ``_sig_params.json`` sidecar and every reader checks it."""
    return {"k": k, "rows_per_band": rows_per_band,
            "shingle_n": shingle_n, "jaccard_n": jaccard_n}


def write_signature_index(index_df: DataFrame, path: str,
                          wave: str = "base",
                          params: dict | None = None) -> None:
    """Persist a :func:`build_signature_index` frame under the UNIFIED
    layout every producer shares (advice-r04 — run_dedup --mode index used
    to write a flat directory while the incremental-crawl DAG wrote
    wave-partitioned, so mixing producers on one warehouse broke the DAG's
    wave filter): one hive-style ``wave=<wave>`` partition, overwritten on
    replay, plus the params sidecar written through the Hadoop FS
    abstraction (works on file:/hdfs:/s3a: alike)."""
    import json

    from ..sources import fsio
    mine = params or signature_index_params()
    # appending a wave must NOT clobber the shared sidecar (advice-r05):
    # if a second producer wrote different params to a new wave, readers
    # would validate the whole multi-wave index against only the LAST
    # writer's params — older mismatched waves would pass the guard and
    # match nothing, the exact failure the sidecar exists to prevent.
    # Read any existing sidecar first and fail loudly on mismatch.
    spark = index_df.sparkSession
    existing = fsio.read_text(spark, f"{path}/{SIG_PARAMS_FILE}")
    if existing is not None and json.loads(existing) != mine:
        raise ValueError(
            f"signature index at {path} already holds waves built with "
            f"{json.loads(existing)}; refusing to append wave={wave!r} "
            f"built with {mine} — a multi-wave index must be "
            f"parameter-homogeneous (mismatched waves silently match "
            f"nothing). Use a different index path or rebuild.")
    index_df.write.mode("overwrite").parquet(f"{path}/wave={wave}")
    if existing is None:
        fsio.write_text(spark, f"{path}/{SIG_PARAMS_FILE}",
                        json.dumps(mine))


def read_signature_index(spark, path: str, params: dict | None = None,
                         exclude_wave: str | None = None) -> DataFrame:
    """Open a persisted signature index, verifying its params sidecar
    against ``params`` (defaults). A MISSING sidecar raises — silently
    skipping the check is exactly how a parameter-mismatched
    decontamination pass flags nothing (advice-r04). ``exclude_wave``
    drops that wave's own partition (replay safety: a re-run must not
    self-decontaminate against the docs it indexed last time)."""
    import json

    from ..sources import fsio
    raw = fsio.read_text(spark, f"{path}/{SIG_PARAMS_FILE}")
    if raw is None:
        raise ValueError(
            f"signature index at {path} has no {SIG_PARAMS_FILE} sidecar — "
            f"cannot verify build parameters (an index probed with "
            f"mismatched shingles/bands silently matches nothing). "
            f"Rebuild it with write_signature_index / run_dedup --mode "
            f"index, or write the sidecar explicitly.")
    stored = json.loads(raw)
    mine = params or signature_index_params()
    if stored != mine:
        raise ValueError(
            f"signature-index parameter mismatch: index built with "
            f"{stored}, read with {mine} — mismatched shingles/bands "
            f"silently match nothing")
    df = spark.read.parquet(path)
    if exclude_wave is not None:
        df = df.where(F.col("wave") != exclude_wave)
    return df


def neardup_against_index(new_df: DataFrame, index_df: DataFrame,
                          text_col: str = "text", id_col: str = "doc_id",
                          k: int = 8, rows_per_band: int = 2,
                          shingle_n: int = 3, jaccard_n: int = 3,
                          threshold: float = 0.5,
                          max_bucket_size: int | None = DEFAULT_MAX_BUCKET
                          ) -> DataFrame:
    """Near-dups of NEW docs against a :func:`build_signature_index` frame
    of a prior corpus — no reference text is read. LSH band equi-join
    BETWEEN the two sides — never a self-join of their union, so cost
    tracks shared buckets, and the new crawl (typically ≪ the accumulated
    corpus) drives the join's small side — then hashed-shingle Jaccard
    verify. The bucket cap applies to each side separately (a mega-bucket
    in the index is boilerplate the prior corpus should have exact-deduped),
    matching the DuckDB twin of cross_corpus_neardup exactly. Returns
    (new_id, ref_id, jaccard) at/above threshold.

    The new side's index is materialized with localCheckpoint (as in
    :func:`_components`), so its stack and the verify both read it and
    each new doc's text crosses into Python once. ``index_df`` is used
    as given: a stored index is a Parquet scan, and can be large."""
    new_index = build_signature_index(new_df, text_col, id_col, k,
                                      rows_per_band, shingle_n,
                                      jaccard_n).localCheckpoint()
    sn = _stack(new_index, id_col, max_bucket_size).alias("n")
    sr = _stack(index_df, id_col, max_bucket_size).alias("r")
    cand = (sn.join(sr, F.col("n.bucket") == F.col("r.bucket"))
            .select(F.col(f"n.{id_col}").alias("new_id"),
                    F.col(f"r.{id_col}").alias("ref_id"))
            .distinct())
    return _verify(cand, new_index.select(id_col, "ngrams"),
                   index_df.select(id_col, "ngrams"), threshold)


def decontaminate(pages: DataFrame, index_path: str,
                  text_col: str = "text", id_col: str = "doc_id",
                  exclude_wave: str | None = None, shingle_n: int = 3,
                  jaccard_n: int = 3, threshold: float = 0.5,
                  max_bucket_size: int | None = DEFAULT_MAX_BUCKET
                  ) -> DataFrame:
    """Drop the pages that near-duplicate a stored signature index (a prior
    corpus): :func:`read_signature_index` (params sidecar verified, loud
    failure on mismatch; ``exclude_wave`` skips that wave's own partition)
    → :func:`neardup_against_index` → left-anti join on the flagged ids.
    The prior corpus's text is never read."""
    index = read_signature_index(
        pages.sparkSession, index_path,
        params=signature_index_params(shingle_n=shingle_n,
                                      jaccard_n=jaccard_n),
        exclude_wave=exclude_wave)
    flagged = neardup_against_index(
        pages, index, text_col, id_col, shingle_n=shingle_n,
        jaccard_n=jaccard_n, threshold=threshold,
        max_bucket_size=max_bucket_size
    ).select(F.col("new_id").alias(id_col)).distinct()
    return pages.join(flagged, id_col, "left_anti")


DEFAULT_CC_LOCAL_EDGES = 200_000


def connected_components(pairs: DataFrame, max_iter: int = 25,
                         checkpoint_dir: str | None = None,
                         stats: dict | None = None,
                         local_edge_cutoff: int | None = None) -> DataFrame:
    """Connected components of an undirected pair list via iterative
    min-label propagation WITH per-round path compression (pointer
    jumping): each node's label becomes the min over {its own label, its
    neighbours' labels, its label's label}. Plain propagation needs
    O(diameter) rounds; the compression step halves remaining path lengths
    each round, so convergence is O(log diameter) — a 200-node path graph
    converges in 8 rounds, not 200 (tests/test_neardup_chain.py).
    Returns (id, comp) where comp = the minimal id in the component.

    Scale shape: each round is two joins + one min-groupBy, all shuffling
    the EDGE list (near-dup pairs ≪ corpus). Each round is materialized
    with a checkpoint — persist() alone is NOT enough for iterative
    algorithms: the logical plan still nests the previous round's plan
    (labels appears twice per round → 2^k tree growth) and Spark OOMs just
    BUILDING THE PLAN STRING after a few rounds. Checkpointing truncates
    lineage to the materialized blocks.

    ``checkpoint_dir``: when given (a fault-tolerant path — HDFS/S3 on a
    real cluster), rounds are materialized with reliable ``checkpoint()``
    so a lost executor doesn't kill the whole iteration; default is
    ``localCheckpoint()`` (fine on local[*], blocks die with an executor).

    Raises :class:`ComponentsNotConverged` if the fixpoint is not reached
    within ``max_iter`` rounds (never returns silently-wrong splits).

    ``local_edge_cutoff``: near-dup edge lists are usually tiny relative
    to the corpus (~5k pairs at sf1.0), and each distributed round costs
    several scheduled jobs — pure overhead at that size. When the
    materialized pair count is at or below the cutoff (default
    ``DEFAULT_CC_LOCAL_EDGES`` = 200k, a bounded driver fence of the
    same kind as the BPE word census and the distilled-classifier weight
    collect), the pairs are collected once and resolved with an exact
    driver-side union-find — identical (id, min-id comp) rows by
    construction, equality-pinned against the distributed loop in
    tests/test_neardup_chain.py. Larger edge lists always take the
    distributed loop; pass ``0`` to force it (the non-convergence guard
    only applies there — the local path always converges).
    """
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:
        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    # materialize the PAIR list first, then build the symmetric edge list
    # from the materialized blocks — unioning two projections of the
    # un-checkpointed input evaluated the whole upstream plan (e.g. the
    # LSH+Jaccard chain) TWICE (round 7; measured ~5 s of the sf1.0
    # neardup_groups query). Every round then joins against edges with
    # truncated lineage as before.
    pairs0 = _ckpt(pairs.select("id_a", "id_b"))
    n_pairs = pairs0.count()
    cutoff = (DEFAULT_CC_LOCAL_EDGES if local_edge_cutoff is None
              else local_edge_cutoff)
    if n_pairs <= cutoff:
        # bounded driver fence (see docstring): exact union-find over the
        # materialized pair list, then comp = min id per component — the
        # same (id, comp) rows the distributed fixpoint converges to
        parent: dict = {}

        def _find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for r in pairs0.collect():
            a, b = r[0], r[1]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = _find(a), _find(b)
            if ra != rb:
                parent[rb] = ra
        comp_min: dict = {}
        for v in parent:
            root = _find(v)
            if root not in comp_min or v < comp_min[root]:
                comp_min[root] = v
        out = [(v, comp_min[_find(v)]) for v in parent]
        if stats is not None:
            stats["rounds"] = 0
            stats["local"] = True
        from pyspark.sql import types as T
        id_type = pairs0.schema["id_a"].dataType
        schema = T.StructType([T.StructField("id", id_type, True),
                               T.StructField("comp", id_type, True)])
        return pairs0.sparkSession.createDataFrame(out, schema)

    edges = _ckpt(
        pairs0.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs0.select(F.col("id_b").alias("src"),
                             F.col("id_a").alias("dst"))))
    # adapt the iteration's parallelism to the MATERIALIZED edge count
    # (guide §2.2: near-dup edge lists are usually ≪ corpus — at sf1.0 the
    # chain yields ~5k edges, and running every round's joins over 32
    # shuffle partitions cost more in task scheduling than in work,
    # measured ~6 s of a 12 s query). The symmetric union is exactly
    # 2 × the materialized pair count (no distinct); the partition count
    # scales back up with real edge volume.
    n_edges = 2 * n_pairs
    parallelism = edges.sparkSession.sparkContext.defaultParallelism
    parts = max(1, min(parallelism, n_edges // 100_000 + 1))
    if parts < parallelism:
        edges = _ckpt(edges.repartition(parts, "src"))
    labels = _ckpt(edges.select(F.col("src").alias("id")).distinct()
                   .withColumn("comp", F.col("id")))
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # neighbour labels + my label's label (path compression), tagged so
        # ONE agg produces both the new label and the old one: the change
        # count is then a scan of the just-materialized blocks — no second
        # join-the-old-frame job per round
        msgs = (edges.join(labels, edges.src == labels.id)
                .select(F.col("dst").alias("id"), F.col("comp")))
        lbl2 = labels.alias("x").join(
            labels.alias("y"), F.col("x.comp") == F.col("y.id")
        ).select(F.col("x.id").alias("id"), F.col("y.comp").alias("comp"))
        own = labels.withColumn("_own", F.col("comp"))
        others = msgs.union(lbl2).withColumn(
            "_own", F.lit(None).cast(labels.schema["comp"].dataType))
        new_labels = _ckpt(
            own.unionByName(others)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"), F.min("_own").alias("_own")))
        n_changed = new_labels.where(F.col("comp") != F.col("_own")).count()
        labels = new_labels.select("id", "comp")
        if n_changed == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise ComponentsNotConverged(
            f"connected_components: no fixpoint after {max_iter} rounds "
            f"(component diameter too large — raise max_iter)")
    return labels


def _components(df: DataFrame, text_col: str, id_col: str,
                threshold: float = 0.5,
                max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
                **sig_params) -> DataFrame:
    """(id, comp) of the verified near-dup graph. The signature frame is
    built ONCE and materialized with localCheckpoint (fresh blocks per call;
    never persist — CLAUDE.md), so the band self-join and the verify both
    read it and each doc's text crosses into Python once."""
    index = build_signature_index(df, text_col, id_col,
                                  **sig_params).localCheckpoint()
    ng = index.select(id_col, "ngrams")
    return connected_components(
        _verify(_lsh_pairs(index, id_col, max_bucket_size), ng, ng,
                threshold))


def neardup_groups(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = 8,
                   rows_per_band: int = 2, shingle_n: int = 3,
                   jaccard_n: int = 3, threshold: float = 0.5,
                   max_bucket_size: int | None = DEFAULT_MAX_BUCKET
                   ) -> DataFrame:
    """Fuzzy twin of :func:`exact_dedup_groups`: LSH candidates → exact
    Jaccard verify → connected components → one row per clustered doc with
    its cluster representative (min id) and cluster size. Docs in no
    near-dup cluster are omitted (they are their own representative)."""
    comp = _components(df, text_col, id_col, threshold, max_bucket_size,
                       k=k, rows_per_band=rows_per_band,
                       shingle_n=shingle_n, jaccard_n=jaccard_n)
    sizes = comp.groupBy("comp").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"))
    return (comp.join(sizes, "comp")
            .select(F.col("id").alias(id_col),
                    F.col("comp").alias("rep_id"), "cluster_size"))


def neardup_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", **kwargs) -> DataFrame:
    """Keep one representative (min id) per near-dup cluster; pass through
    docs that belong to no cluster. The pipeline hook twin of
    :func:`exact_dedup`; ``kwargs`` as in :func:`neardup_groups`."""
    comp = _components(df, text_col, id_col, **kwargs)
    drop = comp.where(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col))
    return df.join(drop, on=id_col, how="left_anti")


def _duck_cand_ctes(table: str, text_col: str, id_col: str, k: int,
                    rows_per_band: int, shingle_n: int,
                    max_bucket_size: int) -> str:
    """CTE chain for the LSH *candidate* stage (shared by the standalone
    minhash_lsh_pairs twin and the full Jaccard chain): signatures → bands
    → capped buckets → distinct candidate pairs."""
    sig_cols = ", ".join(minhash_sig_exprs(text_col, k, shingle_n, "duck"))
    n_bands = k // rows_per_band
    band_cols = ", ".join(band_exprs(k, rows_per_band, "duck"))
    stacked = " union all ".join(
        f"select {id_col}, '{b}:' || band_{b} as bucket from banded"
        for b in range(n_bands))
    return f"""
        sig as (select {id_col}, {sig_cols} from {table}),
        banded as (select {id_col}, {band_cols} from sig),
        stacked as ({stacked}),
        capped as (
            select * from (
                select {id_col}, bucket,
                       count(*) over (partition by bucket) as bsz
                from stacked
            ) where bsz <= {max_bucket_size}
        ),
        cand as (
            select distinct a.{id_col} as id_a, b.{id_col} as id_b
            from capped a join capped b
              on a.bucket = b.bucket and a.{id_col} < b.{id_col}
        )"""


def duckdb_lsh_candidates_sql(table: str = "documents",
                              text_col: str = "text",
                              id_col: str = "doc_id", k: int = 8,
                              rows_per_band: int = 2, shingle_n: int = 3,
                              max_bucket_size: int = DEFAULT_MAX_BUCKET
                              ) -> str:
    """DuckDB twin of :func:`minhash_lsh_pairs` (the candidate generator is
    fully deterministic — md5-based shingle hashes, affine min-hash,
    md5 band keys — so it hash-matches, not just rows-only)."""
    ctes = _duck_cand_ctes(table, text_col, id_col, k, rows_per_band,
                           shingle_n, max_bucket_size)
    return f"with {ctes} select id_a, id_b from cand"


def _duck_chain_ctes(table: str, text_col: str, id_col: str, k: int,
                     rows_per_band: int, shingle_n: int, jaccard_n: int,
                     threshold: float, max_bucket_size: int) -> str:
    """Shared CTE chain for the DuckDB LSH→Jaccard twins: signatures →
    bands → capped buckets → candidate pairs → Jaccard-verified pairs."""
    ng = _hashed_ngrams(text_col, jaccard_n, "duck")
    # same |A∪B| = |A|+|B|−|A∩B| identity as the Spark side (sets, so equal)
    jac = ("round(len(list_intersect(a.ngrams, b.ngrams))::double"
           " / (len(a.ngrams) + len(b.ngrams)"
           " - len(list_intersect(a.ngrams, b.ngrams))), 6)")
    return f"""
        {_duck_cand_ctes(table, text_col, id_col, k, rows_per_band,
                         shingle_n, max_bucket_size)},
        ngr as (select {id_col}, {ng} as ngrams from {table}),
        verified as (
            select c.id_a, c.id_b, {jac} as jaccard
            from cand c
            join ngr a on a.{id_col} = c.id_a
            join ngr b on b.{id_col} = c.id_b
            where {jac} >= {threshold}
        )"""


def duckdb_lsh_jaccard_sql(table: str = "documents", text_col: str = "text",
                           id_col: str = "doc_id", k: int = 8,
                           rows_per_band: int = 2, shingle_n: int = 3,
                           jaccard_n: int = 3, threshold: float = 0.5,
                           max_bucket_size: int = DEFAULT_MAX_BUCKET) -> str:
    """DuckDB twin of minhash_lsh_pairs → jaccard_verify_pairs."""
    ctes = _duck_chain_ctes(table, text_col, id_col, k, rows_per_band,
                            shingle_n, jaccard_n, threshold, max_bucket_size)
    return f"with {ctes} select id_a, id_b, jaccard from verified"


def duckdb_neardup_groups_sql(table: str = "documents",
                              text_col: str = "text",
                              id_col: str = "doc_id", k: int = 8,
                              rows_per_band: int = 2, shingle_n: int = 3,
                              jaccard_n: int = 3, threshold: float = 0.5,
                              max_bucket_size: int = DEFAULT_MAX_BUCKET
                              ) -> str:
    """Exact DuckDB twin of :func:`neardup_groups`: same signatures, bands,
    bucket cap and Jaccard verify; components via a recursive CTE
    (transitive closure is fine at oracle scale)."""
    ctes = _duck_chain_ctes(table, text_col, id_col, k, rows_per_band,
                            shingle_n, jaccard_n, threshold, max_bucket_size)
    return f"""
        with recursive {ctes},
        und as (
            select id_a as a, id_b as b from verified
            union all
            select id_b, id_a from verified
        ),
        reach(a, b) as (
            select a, b from und
            union
            select r.a, u.b from reach r join und u on r.b = u.a
            where u.b <> r.a
        ),
        comp as (
            select a as id, least(a, min(b)) as comp from reach group by a
        ),
        sizes as (
            select comp, count(*)::bigint as cluster_size from comp group by comp
        )
        select c.id as {id_col}, c.comp as rep_id, s.cluster_size
        from comp c join sizes s using (comp)
    """


SIMHASH_BITS = 16


_PY_HASH16_MEMO: dict[str, int] = {}


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """SimHash fingerprint (16-bit, md5-derived word hashes → SQL-twin-able).

    Round 7 (guide §4.2): the whole fingerprint — tokenize, 16-bit md5
    word hash (memoized per distinct word per worker), ±1 bit sums,
    sign-pack — is one Arrow crossing per doc batch instead of an
    explode(words) → md5-per-occurrence → 16-conditional-sum groupBy
    (which shuffled one row per word occurrence). Pure integer
    arithmetic, so values are identical — pinned against the native
    aggregation twin in tests/test_dedup_batched_twins.py and by the
    query's DuckDB hash; the shuffle disappears outright.
    """
    import numpy as np

    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)

    def _fp_of(t: str | None) -> int:
        words = _py_words(t)
        hs = np.empty(len(words), dtype=np.int64)
        for j, w in enumerate(words):
            h = _PY_HASH16_MEMO.get(w)
            if h is None:
                import hashlib
                h = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:4], 16)
                if len(_PY_HASH16_MEMO) < _PY_HASH_MEMO_CAP:
                    _PY_HASH16_MEMO[w] = h
            hs[j] = h
        bits = (((hs[:, None] >> bit_idx[None, :]) & 1) * 2 - 1).sum(axis=0)
        return int(((bits > 0).astype(np.int64) << bit_idx).sum())

    @F.pandas_udf("int")
    def _simhash(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for text in batches:
            yield pd.Series([_fp_of(t) for t in text],
                            index=text.index, dtype="int32")

    return _spread(df).select(
        F.col(id_col),
        _simhash.asNondeterministic()(F.col(text_col)).alias("simhash"))


def simhash_native(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """The original explode → groupBy aggregation twin (kept as the
    engine-paired reference for the batched path's parity test)."""
    # explode_outer: blocks InferFiltersFromGenerate's size()>0 filter,
    # which would re-run the split once more per row (linear here — not
    # the lambda blow-up ngram_novelty/winnow hit — but free to avoid);
    # _words yields [''] for empty text, so outer ≡ inner
    words = df.selectExpr(
        id_col, f"explode_outer({_words(text_col, 'spark')}) as w"
    ).where(F.col("w").isNotNull()).withColumn(
        # 16-bit word hash from md5 hex (engine-portable)
        "wh", F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("int")
    )
    bit_sums = words.groupBy(id_col).agg(*[
        F.sum(F.when(F.shiftright(F.col("wh"), b).bitwiseAND(1) == 1, 1)
              .otherwise(-1)).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ])
    fp = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bit_sums.select(F.col(id_col), fp.cast("int").alias("simhash"))


def duckdb_simhash_sql(table: str = "documents", text_col: str = "text",
                       id_col: str = "doc_id") -> str:
    """Exact DuckDB twin of :func:`simhash`."""
    words = _words(text_col, "duck")
    bit_sum = ", ".join(
        f"sum(case when (wh >> {b}) & 1 = 1 then 1 else -1 end) as s{b}"
        for b in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(case when s{b} > 0 then {1 << b} else 0 end)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
        with exploded as (
            select {id_col}, unnest({words}) as w from {table}
        ), hashed as (
            select {id_col},
                   ('0x' || substr(md5(w), 1, 4))::int as wh
            from exploded
        ), sums as (
            select {id_col}, {bit_sum} from hashed group by {id_col}
        )
        select {id_col}, ({fp})::int as simhash from sums
    """


# ---------------------------------------------------------------------------
# Corpus-wide n-gram novelty + duplicate-cluster census (round 5)
# ---------------------------------------------------------------------------


def exploded_ngram_hashes(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, h) rows: one per DISTINCT hashed word n-gram per doc — the
    shared first stage of the novelty/census family.

    explode_OUTER, deliberately: plain explode triggers Catalyst's
    InferFiltersFromGenerate, which synthesizes a ``size(arr) > 0``
    filter below the staging projections with the WHOLE shingle
    expression inlined — including the split, re-evaluated per lambda
    element (the CLAUDE.md 16× gotcha, measured 13.3 s vs 2.2 s for this
    explode at sf0.1). The rule skips outer generates; _ngrams_raw
    yields ≥1 shingle per doc, so outer ≡ inner (null guard kept)."""
    return (_spread(df).select(
                F.col(id_col),
                hashed_ngrams_batched_udf(n)(F.col(text_col)).alias("_hg"))
            .select(F.col(id_col), F.explode_outer("_hg").alias("h"))
            .where(F.col("h").isNotNull()))


def ngram_novelty(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Per-doc corpus-novelty score: the fraction of a document's DISTINCT
    hashed word n-grams that appear in no other document. Low novelty ≈
    boilerplate/template pages (the document-granularity complement of
    line_dedup's line census) — a standard web-curation ranking signal.

    Scale shape (the line_dedup discipline): explode 60-bit hashed
    shingles (8 B each, never shingle text), census with map-side combine,
    join back on the hash, one per-doc agg. Each (doc, hash) row is unique
    by construction (_hashed_ngrams is distinct per doc), so ``count(*)``
    per hash IS the distinct-doc frequency. Docs with < n words hash their
    whole text as one shingle (the _ngrams_raw convention), so every doc
    scores.

    Returns (id, n_ngrams, novel_frac) — novel_frac 6dp, 1.0 for an
    all-unique doc.

    The plan scans the source twice (once per side of the census join) —
    deliberate: persisting the exploded (id, hash) frame would cache
    ~shingles×8 B of state, while the re-scan re-reads only the pruned
    text column and both exchanges still carry hashes alone (PLANS.md).
    In a multi-stage pipeline, stage the exploded frame as parquet once
    and feed both sides.
    """
    # Round-7 shape: a hash with corpus frequency 1 lives in exactly ONE
    # doc — and (doc, hash) rows are distinct — so min(id) over each
    # singleton hash IS that doc, and the per-doc novel count is a groupBy
    # over singleton hashes alone.  This removes the census join-back that
    # re-shuffled every (id, hash) row (measured 9.2 s → 1.8 s at sf1.0);
    # n_ngrams is just the array size.  The hashed-array frame is
    # materialized once (8 B per distinct shingle) and feeds both sides.
    hg = (_spread(df).select(
            F.col(id_col),
            hashed_ngrams_batched_udf(n)(F.col(text_col)).alias("_hg"))
          .localCheckpoint(eager=True))
    singles = (hg.select(F.col(id_col), F.explode("_hg").alias("h"))
               .groupBy("h")
               .agg(F.count(F.lit(1)).alias("_df"),
                    F.min(id_col).alias(id_col))
               .where("_df = 1")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("long").alias("_novel")))
    per_doc = hg.select(F.col(id_col),
                        F.size("_hg").cast("long").alias("n_ngrams"))
    return (per_doc.join(singles, id_col, "left")
            .select(
                F.col(id_col),
                F.col("n_ngrams"),
                F.round(F.coalesce(F.col("_novel"), F.lit(0)).cast("double")
                        / F.col("n_ngrams"), 6).alias("novel_frac")))


def duckdb_ngram_novelty_sql(table: str, text_col: str = "text",
                             id_col: str = "doc_id", n: int = 3) -> str:
    """Engine twin of :func:`ngram_novelty` (same md5-derived 60-bit
    shingle hashes, so parity is exact by construction)."""
    hg = _hashed_ngrams(text_col, n, "duck")
    return f"""
        with g as (
            select {id_col}, unnest({hg}) as h from {table}
        ), census as (
            select h, count(*) as df from g group by h
        )
        select g.{id_col},
               count(*)::bigint as n_ngrams,
               round(sum(case when c.df = 1 then 1 else 0 end)::double
                     / count(*), 6) as novel_frac
        from g join census c using (h)
        group by g.{id_col}
    """


def dup_cluster_histogram(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Duplicate-cluster size census: how many exact-duplicate clusters of
    each size the corpus holds and how many docs they absorb — the one-
    glance duplication profile of a crawl (a heavy tail here is what makes
    exact_dedup worth its pass). Two algebraic aggs over md5 hashes; never
    wider than (16 B + counts) on the wire."""
    return (exact_dedup_groups(df, text_col, id_col)
            .groupBy("dup_count")
            .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"),
                 F.sum("dup_count").cast("long").alias("n_docs")))


def duckdb_dup_cluster_histogram_sql(table: str, text_col: str = "text",
                                     id_col: str = "doc_id") -> str:
    return f"""
        with g as (
            select md5({text_col}) as h, count(*)::bigint as dup_count
            from {table} group by md5({text_col})
        )
        select dup_count,
               count(*)::bigint as n_clusters,
               sum(dup_count)::bigint as n_docs
        from g group by dup_count
    """


def build_ngram_census(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Persistable corpus n-gram census: (h, df_count) — the document
    frequency of every distinct hashed word n-gram. The novelty analogue
    of build_signature_index: write it once per corpus wave (tens of
    bytes per distinct shingle) and score later waves' novelty against it
    WITHOUT re-reading the accumulated corpus text. Censuses merge by
    summing df_count per hash, so wave-partitioned storage works the same
    way as the signature index's."""
    return (exploded_ngram_hashes(df, text_col, id_col, n)
            .groupBy("h")
            .agg(F.count(F.lit(1)).cast("long").alias("df_count")))


def ngram_novelty_vs_census(new_df: DataFrame, census_df: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Incremental :func:`ngram_novelty`: score a NEW wave's docs against
    the accumulated corpus represented only by its stored
    :func:`build_ngram_census` — an n-gram is novel iff it appears once
    within the wave AND never in the stored census. Exactly equal to
    running ngram_novelty over (accumulated ∪ wave) restricted to the
    wave's docs (combined frequency = wave count + stored count; asserted
    in tests), at the cost of scanning only the wave's text.

    Shuffle shape: wave hashes census (map-side combine), left join to
    the stored census on the 8-byte hash, join back, per-doc agg — the
    accumulated corpus never moves."""
    # Round-7 shape (same as ngram_novelty): combined frequency 1 means
    # wave frequency 1 AND absent from the stored census, and a
    # wave-singleton hash belongs to exactly one doc (min id), so the
    # novel count is a groupBy over census-anti-joined singleton hashes —
    # no join-back over every (doc, hash) row.  Duplicate census h rows
    # (wave-appended storage) are harmless to the anti join by definition.
    hg = (_spread(new_df).select(
            F.col(id_col),
            hashed_ngrams_batched_udf(n)(F.col(text_col)).alias("_hg"))
          .localCheckpoint(eager=True))
    singles = (hg.select(F.col(id_col), F.explode("_hg").alias("h"))
               .groupBy("h")
               .agg(F.count(F.lit(1)).alias("_wdf"),
                    F.min(id_col).alias(id_col))
               .where("_wdf = 1")
               .join(census_df.select("h"), "h", "left_anti")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("long").alias("_novel")))
    per_doc = hg.select(F.col(id_col),
                        F.size("_hg").cast("long").alias("n_ngrams"))
    return (per_doc.join(singles, id_col, "left")
            .select(
                F.col(id_col),
                F.col("n_ngrams"),
                F.round(F.coalesce(F.col("_novel"), F.lit(0)).cast("double")
                        / F.col("n_ngrams"), 6).alias("novel_frac")))


def duckdb_ngram_novelty_vs_census_sql(new_table: str, ref_table: str,
                                       text_col: str = "text",
                                       id_col: str = "doc_id",
                                       n: int = 3) -> str:
    """Engine twin of :func:`ngram_novelty_vs_census` with the census
    derived inline from ``ref_table`` (the driver-query form: a
    deterministic slice of the same documents table)."""
    hg = _hashed_ngrams(text_col, n, "duck")
    return f"""
        with gref as (
            select unnest({hg}) as h from {ref_table}
        ), cref as (
            select h, count(*) as df_ref from gref group by h
        ), gnew as (
            select {id_col}, unnest({hg}) as h from {new_table}
        ), cnew as (
            select h, count(*) as df_new from gnew group by h
        ), comb as (
            select cnew.h, cnew.df_new + coalesce(cref.df_ref, 0) as df
            from cnew left join cref using (h)
        )
        select g.{id_col},
               count(*)::bigint as n_ngrams,
               round(sum(case when c.df = 1 then 1 else 0 end)::double
                     / count(*), 6) as novel_frac
        from gnew g join comb c using (h)
        group by g.{id_col}
    """


# ---------------------------------------------------------------------------
# Quality-aware survivor selection (round 6)
# ---------------------------------------------------------------------------


def keep_best_representatives(groups: DataFrame, scores: DataFrame,
                              id_col: str = "doc_id",
                              score_col: str = "score_micro") -> DataFrame:
    """Quality-aware survivor per near-dup cluster: instead of min-id, keep
    the member with the HIGHEST quality score (tie: smallest id) — the
    standard web-pipeline refinement (near-dup clusters usually mix a clean
    page with boilerplate-laden mirrors; min-id keeps an arbitrary one).

    ``groups``: (id, rep_id, cluster_size) as produced by
    :func:`neardup_groups`. ``scores``: (id, score) — any deterministic
    integer score; the distilled classifier's ``score_micro`` is the
    intended feed (exact integer sums, so the argmax is reproducible and
    oracle-checkable; a float score would make ties engine-dependent).

    Scale shape: the join is id-equi (clustered docs only, a small
    fraction of the corpus), and the window partitions by cluster — state
    per reducer is one cluster's members, never the corpus.

    Returns (rep_id, kept_id, kept_<score_col>, cluster_size).
    """
    from pyspark.sql import Window
    j = groups.join(scores.select(id_col, score_col), id_col)
    win = Window.partitionBy("rep_id").orderBy(
        F.desc(score_col), F.asc(id_col))
    return (j.withColumn("_rn", F.row_number().over(win))
            .where(F.col("_rn") == 1)
            .select("rep_id",
                    F.col(id_col).alias("kept_id"),
                    F.col(score_col).alias(f"kept_{score_col}"),
                    "cluster_size"))


def neardup_dedup_keep_best(df: DataFrame, scores: DataFrame,
                            text_col: str = "text", id_col: str = "doc_id",
                            score_col: str = "score_micro",
                            **kwargs) -> DataFrame:
    """Pipeline hook: drop every clustered doc except its best-scoring
    member; docs in no cluster pass through (cf. :func:`neardup_dedup`,
    the min-id variant)."""
    groups = neardup_groups(df, text_col, id_col, **kwargs)
    kept = keep_best_representatives(groups, scores, id_col, score_col)
    drop = (groups.join(kept.selectExpr(f"kept_id as {id_col}"),
                        id_col, "left_anti").select(id_col))
    return df.join(drop, on=id_col, how="left_anti")


def duckdb_keep_best_sql(groups_sql: str, scores_sql: str,
                         id_col: str = "doc_id",
                         score_col: str = "score_micro") -> str:
    """Engine twin of :func:`keep_best_representatives`. ``groups_sql`` /
    ``scores_sql`` are full SELECTs (nested WITH is legal in DuckDB
    subqueries) yielding the neardup_groups / score shapes."""
    return f"""
        select rep_id, kept_id, kept_{score_col}, cluster_size from (
            select g.rep_id, g.{id_col} as kept_id,
                   s.{score_col} as kept_{score_col}, g.cluster_size,
                   row_number() over (partition by g.rep_id
                                      order by s.{score_col} desc,
                                               g.{id_col} asc) as rn
            from ({groups_sql}) g
            join ({scores_sql}) s using ({id_col})
        ) where rn = 1
    """


# ---------------------------------------------------------------------------
# SimHash banded near-dup pairs (round 6)
# ---------------------------------------------------------------------------

SIMHASH_BANDS = 4   # 16 bits / 4 bands: hamming <= 3 ALWAYS shares a band


def simhash_neardup_pairs(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", max_hamming: int = 3,
                          max_bucket_size: int | None = DEFAULT_MAX_BUCKET
                          ) -> DataFrame:
    """Complete the SimHash chain: banded candidate generation + Hamming
    verify — the Manku/Google near-dup construction, and the cheap
    complement to MinHash-LSH (one 16-bit int per doc vs k signatures;
    Hamming radius vs Jaccard threshold).

    Pigeonhole guarantee: 16 bits split into 4 bands means any pair
    within Hamming distance 3 agrees exactly on >= 1 band — candidates
    are an EQUI-join on (band_idx, band_val), never a cross product;
    ``max_bucket_size`` caps degenerate buckets via a window count over
    the join key (the exchange is reused), exactly like the MinHash path.
    Everything is integer arithmetic (shifts, xor, bit_count) — engine-
    exact by construction. NOTE for the DuckDB twin: ``^`` is POWER in
    DuckDB; the twin emits ``xor()``.

    Returns (id_a, id_b, hamming), id_a < id_b, each pair once.
    """
    from pyspark.sql.window import Window
    bp = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << bp) - 1
    fp = simhash(df, text_col, id_col)
    stack_args = ", ".join(
        f"{i}, shiftright(simhash, {i * bp}) & {mask}"
        for i in range(SIMHASH_BANDS))
    stacked = fp.selectExpr(
        id_col, "simhash",
        f"stack({SIMHASH_BANDS}, {stack_args}) as (band_idx, band_val)")
    if max_bucket_size is not None:
        w = Window.partitionBy("band_idx", "band_val")
        stacked = (stacked
                   .withColumn("_bsz", F.count(F.lit(1)).over(w))
                   .where(F.col("_bsz") <= max_bucket_size)
                   .drop("_bsz"))
    a = stacked.selectExpr("band_idx", "band_val",
                           f"{id_col} as id_a", "simhash as sh_a")
    b = stacked.selectExpr("band_idx", "band_val",
                           f"{id_col} as id_b", "simhash as sh_b")
    return (a.join(b, ["band_idx", "band_val"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.expr("cast(bit_count(sh_a ^ sh_b) as int)")
                    .alias("hamming"))
            .distinct()
            .where(F.col("hamming") <= max_hamming))


def duckdb_simhash_pairs_sql(table: str = "documents",
                             text_col: str = "text",
                             id_col: str = "doc_id", max_hamming: int = 3,
                             max_bucket_size: int = DEFAULT_MAX_BUCKET
                             ) -> str:
    """Engine twin of :func:`simhash_neardup_pairs` (same fingerprints,
    same bands, same cap; xor() because ^ is power in DuckDB)."""
    bp = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << bp) - 1
    bands = ", ".join(str(i) for i in range(SIMHASH_BANDS))
    return f"""
        with fp as ({duckdb_simhash_sql(table, text_col, id_col)}),
        stacked as (
            select {id_col}, simhash, band_idx,
                   (simhash >> (band_idx * {bp})) & {mask} as band_val
            from fp cross join (select unnest([{bands}]) as band_idx)
        ), capped as (
            select * from (
                select {id_col}, simhash, band_idx, band_val,
                       count(*) over (partition by band_idx, band_val)
                           as _bsz
                from stacked
            ) where _bsz <= {max_bucket_size}
        )
        select distinct a.{id_col} as id_a, b.{id_col} as id_b,
               bit_count(xor(a.simhash, b.simhash))::int as hamming
        from capped a join capped b
          on a.band_idx = b.band_idx and a.band_val = b.band_val
         and a.{id_col} < b.{id_col}
        where bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """
