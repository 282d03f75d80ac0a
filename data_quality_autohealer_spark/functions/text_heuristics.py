"""Gopher/C4-style heuristic quality signals as NATIVE column expressions.

Reference analogue: the rule-based detector
(/root/reference/src/detectors/missing_data_rule_based.py:23-53) — fixed
thresholds over computed rates, confidence = how far past the threshold.
Here the unit is a web document (row) instead of a dataset, and every signal
is a native Catalyst expression (whole-stage codegen, zero Python in the hot
path).

Each signal is defined TWICE, from one table of definitions:
  * ``spark_signal_exprs`` — pyspark Column expressions
  * ``duckdb_signal_sql``  — the equivalent DuckDB SQL fragments
so the driver's DuckDB oracle and the Spark plan are generated from the same
source of truth and cannot drift apart.

All fractional signals are rounded to 6 decimals in BOTH engines so the
driver's order-insensitive value-hash comparison is stable.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

from .rule_ops import SPARK

# Gopher-style required stopwords ("at least 2 distinct of these 8").
STOPWORDS_REQUIRED = ["the", "be", "to", "of", "and", "that", "have", "with", "a"]

# Symbol characters for the symbol-to-word ratio (code/markup debris).
# Deliberately avoids chars needing regex escapes so the same literal is a
# valid pattern in Java regex (Spark) and RE2 (DuckDB) without backslashes.
_SYMBOL_CLASS = "[#@{}<>|^~$%&*+=]"

# Canonical tokenizer whitespace: an EXPLICIT ASCII class, identical in Java
# regex (Spark), RE2 (DuckDB) and Python re. Never use \s here — Java \s
# includes \x0b, RE2 \s does not, and Python \s is full Unicode — so the
# three paths silently disagree on real web text (leading tabs, U+00A0).
_WS_CHARS = " \t\n\x0b\f\r"                       # Python str.strip() arg
_WS_CLASS_DUCK = "[ \\t\\n\\x0b\\f\\r]"            # literal in DuckDB SQL text
_WS_CLASS_SPARK = "[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]"  # Spark SQL eats one level


@dataclass(frozen=True)
class GopherThresholds:
    """Rule thresholds. Mirrors the reference's config-driven thresholds
    (missing_data_rule_based.py:14-21, quality_thresholds.yaml) ported to
    the Gopher/C4 web-text rule family."""

    min_word_count: int = 50
    max_word_count: int = 100_000
    min_mean_word_length: float = 3.0
    max_mean_word_length: float = 10.0
    max_symbol_to_word_ratio: float = 0.1
    min_distinct_stopwords: int = 2
    min_alpha_word_frac: float = 0.8
    max_dup_2gram_frac: float = 0.50
    max_dup_3gram_frac: float = 0.45
    max_dup_4gram_frac: float = 0.40
    stopwords: tuple[str, ...] = field(default=tuple(STOPWORDS_REQUIRED))


DEFAULT_THRESHOLDS = GopherThresholds()

# ---------------------------------------------------------------------------
# Spark side (native Catalyst expressions)
# ---------------------------------------------------------------------------


def _spark_clean(text: str) -> str:
    """Strip leading/trailing ASCII whitespace (trim() strips U+0020 only)."""
    return (f"regexp_replace(coalesce({text}, ''), "
            f"'^{_WS_CLASS_SPARK}+|{_WS_CLASS_SPARK}+$', '')")


def _spark_words(text: str) -> str:
    """Maximal runs of non-whitespace chars; no leading/trailing empty tokens
    (Java split on un-stripped text yields a leading '' token for text that
    starts with a tab, and Spark's default limit=-1 keeps trailing ones)."""
    return f"split({_spark_clean(text)}, '{_WS_CLASS_SPARK}+')"


def _spark_ngrams(words: str, n: int) -> str:
    """0-based Spark array subscript. Empty array when too few words."""
    joined = " || ' ' || ".join(f"{words}[i + {j}]" for j in range(n))
    return (
        f"case when size({words}) < {n} then array() "
        f"else transform(sequence(0, size({words}) - {n}), i -> {joined}) end"
    )


def _spark_dup_frac(words: str, n: int) -> str:
    ng = _spark_ngrams(words, n)
    return (
        f"case when size({words}) < {n} then cast(0.0 as double) else "
        f"round(1.0 - cast(size(array_distinct({ng})) as double)"
        f" / cast(size({ng}) as double), 6) end"
    )


def spark_signal_exprs(text_col: str = "text",
                       th: GopherThresholds = DEFAULT_THRESHOLDS) -> dict[str, Column]:
    """Per-document quality signals as native Column expressions.

    Returned dict includes staged intermediate columns (prefixed ``_``) —
    ``words`` and one n-gram array per order — so each expensive subexpression
    is computed ONCE. Catalyst's CollapseProject will not inline a non-cheap
    alias referenced more than once (collapseProjectAlwaysInline=false), so
    the staging survives optimization; without it the split/transform chains
    are textually duplicated ~30× and whole-stage codegen compile time
    explodes. Attach with :func:`with_quality_signals`, which drops the
    temp columns.
    """
    t = text_col
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in th.stopwords) + ")"
    wc = "_wc"
    nospace = (f"length(regexp_replace(coalesce({t}, ''), "
               f"'{_WS_CLASS_SPARK}+', ''))")
    exprs: dict[str, Column] = {}
    exprs.update({
        "word_count": F.col("_wc").cast("int"),
        "mean_word_len": F.expr(
            f"case when {wc} = 0 then cast(0.0 as double) "
            f"else round(cast({nospace} as double) / {wc}, 6) end"
        ),
        "symbol_ratio": F.expr(
            f"case when {wc} = 0 then cast(0.0 as double) "
            f"else round(cast(regexp_count(coalesce({t}, ''), '{_SYMBOL_CLASS}') as double)"
            f" / {wc}, 6) end"
        ),
        "distinct_stopwords": F.expr(
            f"case when {wc} = 0 then 0 "
            f"else size(array_intersect(_words, {stop_arr})) end"
        ).cast("int"),
        "alpha_word_frac": F.expr(
            f"case when {wc} = 0 then cast(0.0 as double) "
            f"else round(cast(size(filter(_words, w -> w rlike '[a-zA-Z]')) as double)"
            f" / {wc}, 6) end"
        ),
    })
    for n in (2, 3, 4):
        exprs[f"dup_{n}gram_frac"] = F.expr(
            f"case when size(_words) < {n} then cast(0.0 as double) else "
            f"round(1.0 - cast(size(array_distinct(_ng{n})) as double)"
            f" / cast(size(_ng{n}) as double), 6) end"
        )
    return exprs


TEMP_SIGNAL_COLS = ["_words", "_wc", "_ng2", "_ng3", "_ng4"]

SIGNAL_COLS = [
    "word_count", "mean_word_len", "symbol_ratio", "distinct_stopwords",
    "alpha_word_frac", "dup_2gram_frac", "dup_3gram_frac", "dup_4gram_frac",
]


def with_signal_columns(df, text_col: str = "text",
                        th: GopherThresholds = DEFAULT_THRESHOLDS,
                        include_dup: bool = True):
    """Attach the signal columns, staging the expensive intermediates
    (words array, per-order n-gram arrays) as separate projections. Temp
    columns are dropped.

    ``include_dup=False`` skips the dup-n-gram-frac expressions — used by the
    pipeline hot path, where those three signals come out of the scoring
    pandas UDF instead (same values; see operators.scoring.dup_ngram_fracs).
    """
    t = text_col
    df = df.withColumn("_words", F.expr(_spark_words(t)))
    df = df.withColumn("_wc", F.expr(
        f"case when {_spark_clean(t)} = '' or {t} is null "
        f"then 0 else size(_words) end"))
    exprs = spark_signal_exprs(t, th)
    if include_dup:
        df = df.withColumns({
            f"_ng{n}": F.expr(_spark_ngrams("_words", n)) for n in (2, 3, 4)})
        df = df.withColumns(exprs)
        return df.drop(*TEMP_SIGNAL_COLS)
    for n in (2, 3, 4):
        exprs.pop(f"dup_{n}gram_frac")
    df = df.withColumns(exprs)
    return df.drop("_words", "_wc")


def gopher_rules(o, th: GopherThresholds = DEFAULT_THRESHOLDS) -> dict:
    """Reason code -> ``(fired, confidence)`` over the signal columns of
    :func:`spark_signal_exprs`, written once over a ``rule_ops`` namespace
    (Spark Columns or numpy). Confidence ∈ [0,1] is the normalized distance
    past the threshold, clamped — the reference's rule-confidence shape
    ``min(rate/τ, 1)`` (missing_data_rule_based.py:38-53) — and 0.0 ⇔ the
    rule did not fire."""
    c = o.col
    wc, mwl, sym = c("word_count"), c("mean_word_len"), c("symbol_ratio")
    stops, alpha = c("distinct_stopwords"), c("alpha_word_frac")
    d2, d3, d4 = (c(f"dup_{n}gram_frac") for n in (2, 3, 4))
    t2, t3, t4 = (th.max_dup_2gram_frac, th.max_dup_3gram_frac,
                  th.max_dup_4gram_frac)

    def band(x, lo: float, hi: float):
        below, above = x < lo, x > hi
        return below | above, o.past((below, (lo - x) / lo),
                                     (above, (x - hi) / hi))

    def one_sided(fired, dist):
        return fired, o.past((fired, dist))

    t_sym, t_alpha = th.max_symbol_to_word_ratio, th.min_alpha_word_frac
    t_stop = float(th.min_distinct_stopwords)
    return {
        "gopher.word_count": band(wc, float(th.min_word_count),
                                  float(th.max_word_count)),
        "gopher.mean_word_length": band(mwl, th.min_mean_word_length,
                                        th.max_mean_word_length),
        "gopher.symbol_ratio": one_sided(sym > t_sym, (sym - t_sym) / t_sym),
        # stopword rule is English-specific (Gopher's required-word list is
        # English); apply only when the claimed language is English.
        "gopher.stopwords": one_sided((c("lang") == "en") & (stops < t_stop),
                                      (t_stop - stops) / t_stop),
        "gopher.alpha_ratio": one_sided(alpha < t_alpha,
                                        (t_alpha - alpha) / t_alpha),
        "gopher.dup_ngram": one_sided(
            (d2 > t2) | (d3 > t3) | (d4 > t4),
            o.greatest((d2 - t2) / t2, (d3 - t3) / t3, (d4 - t4) / t4)),
    }


def spark_rule_conditions(th: GopherThresholds = DEFAULT_THRESHOLDS) -> dict[str, Column]:
    """Reason-code -> fired-condition Column, from :func:`gopher_rules`."""
    return {k: fired for k, (fired, _) in gopher_rules(SPARK, th).items()}


def spark_confidence_exprs(th: GopherThresholds = DEFAULT_THRESHOLDS
                           ) -> dict[str, Column]:
    """Reason-code -> confidence Column, from :func:`gopher_rules`; the
    DuckDB twin :func:`duckdb_confidence_sql` is written independently."""
    return {k: conf for k, (_, conf) in gopher_rules(SPARK, th).items()}


def duckdb_confidence_sql(th: GopherThresholds = DEFAULT_THRESHOLDS
                          ) -> dict[str, str]:
    """DuckDB twins of :func:`spark_confidence_exprs`, over the aliased
    signal columns produced by ``duckdb_signal_sql``."""
    lo_wc, hi_wc = float(th.min_word_count), float(th.max_word_count)
    lo_mw, hi_mw = th.min_mean_word_length, th.max_mean_word_length
    t_sym = th.max_symbol_to_word_ratio
    t_stop = float(th.min_distinct_stopwords)
    t_alpha = th.min_alpha_word_frac
    d2, d3, d4 = (th.max_dup_2gram_frac, th.max_dup_3gram_frac,
                  th.max_dup_4gram_frac)

    def _d(x: float) -> str:
        # plain 50.0 parses as DECIMAL (decimal arithmetic → Decimal
        # output, which a value hash formats differently from the Spark
        # twin's double); force double
        return f"cast({x} as double)"

    def band(col: str, lo: float, hi: float) -> str:
        # two-sided rule: distance below lo normalized by lo, or above hi
        # normalized by hi; clamped to [0,1]
        lo, hi = _d(lo), _d(hi)
        return (
            f"round(case "
            f"when {col} < {lo} then least(({lo} - {col}) / {lo}, {_d(1.0)}) "
            f"when {col} > {hi} then least(({col} - {hi}) / {hi}, {_d(1.0)}) "
            f"else {_d(0.0)} end, 6)"
        )

    def above(col: str, t: float) -> str:
        t = _d(t)
        return (f"round(case when {col} > {t} "
                f"then least(({col} - {t}) / {t}, {_d(1.0)}) "
                f"else {_d(0.0)} end, 6)")

    def below(col: str, t: float, guard: str = "") -> str:
        t = _d(t)
        return (f"round(case when {guard}{col} < {t} "
                f"then least(({t} - {col}) / {t}, {_d(1.0)}) "
                f"else {_d(0.0)} end, 6)")

    dup_terms = ", ".join([
        f"(dup_2gram_frac - {_d(d2)}) / {_d(d2)}",
        f"(dup_3gram_frac - {_d(d3)}) / {_d(d3)}",
        f"(dup_4gram_frac - {_d(d4)}) / {_d(d4)}",
    ])
    return {
        "gopher.word_count": band("word_count", lo_wc, hi_wc),
        "gopher.mean_word_length": band("mean_word_len", lo_mw, hi_mw),
        "gopher.symbol_ratio": above("symbol_ratio", t_sym),
        "gopher.stopwords": below("distinct_stopwords", t_stop,
                                  guard="lang = 'en' and "),
        "gopher.alpha_ratio": below("alpha_word_frac", t_alpha),
        "gopher.dup_ngram": (
            f"round(case when dup_2gram_frac > {_d(d2)}"
            f" or dup_3gram_frac > {_d(d3)}"
            f" or dup_4gram_frac > {_d(d4)} "
            f"then least(greatest({dup_terms}), {_d(1.0)}) "
            f"else {_d(0.0)} end, 6)"
        ),
    }


def spark_reasons_expr(conditions: dict[str, Column]) -> Column:
    """Sorted array of fired reason codes (deterministic order)."""
    parts = [F.when(cond, F.lit(code)) for code, cond in conditions.items()]
    return F.array_sort(F.filter(F.array(*parts), lambda x: x.isNotNull()))


def with_quality_signals(df, text_col: str = "text",
                         th: GopherThresholds = DEFAULT_THRESHOLDS):
    """Attach signal columns + ``reasons`` (array) + ``keep`` (bool)."""
    df = with_signal_columns(df, text_col, th)
    reasons = spark_reasons_expr(spark_rule_conditions(th))
    return df.withColumn("reasons", reasons).withColumn(
        "keep", F.size("reasons") == 0
    )


# ---------------------------------------------------------------------------
# DuckDB side (oracle twins — same names, same rounding)
# ---------------------------------------------------------------------------


def _duck_clean(text: str) -> str:
    return (f"regexp_replace(coalesce({text}, ''), "
            f"'^{_WS_CLASS_DUCK}+|{_WS_CLASS_DUCK}+$', '', 'g')")


def _duck_words(text: str) -> str:
    return f"regexp_split_to_array({_duck_clean(text)}, '{_WS_CLASS_DUCK}+')"


def _duck_ngrams(words: str, n: int) -> str:
    """1-based DuckDB list subscript."""
    joined = " || ' ' || ".join(f"{words}[i + {j}]" for j in range(n))
    return (
        f"case when len({words}) < {n} then [] "
        f"else list_transform(generate_series(1, len({words}) - {n - 1}), i -> {joined}) end"
    )


def _duck_dup_frac(words: str, n: int) -> str:
    ng = _duck_ngrams(words, n)
    return (
        f"case when len({words}) < {n} then 0.0 else "
        f"round(1.0 - len(list_distinct({ng}))::double / len({ng}), 6) end"
    )


def duckdb_signal_sql(text_col: str = "text",
                      th: GopherThresholds = DEFAULT_THRESHOLDS) -> dict[str, str]:
    t = text_col
    words = _duck_words(t)
    stop_arr = "[" + ", ".join(f"'{w}'" for w in th.stopwords) + "]"
    wc = (f"case when {_duck_clean(t)} = '' or {t} is null "
          f"then 0 else len({words}) end")
    nospace = (f"length(regexp_replace(coalesce({t}, ''), "
               f"'{_WS_CLASS_DUCK}+', '', 'g'))")
    return {
        "word_count": f"({wc})::int",
        "mean_word_len": (
            f"case when ({wc}) = 0 then 0.0 "
            f"else round(({nospace})::double / ({wc}), 6) end"
        ),
        "symbol_ratio": (
            f"case when ({wc}) = 0 then 0.0 "
            f"else round(len(regexp_extract_all(coalesce({t}, ''), '{_SYMBOL_CLASS}'))::double"
            f" / ({wc}), 6) end"
        ),
        "distinct_stopwords": (
            f"case when ({wc}) = 0 then 0 "
            f"else len(list_intersect({words}, {stop_arr})) end::int"
        ),
        "alpha_word_frac": (
            f"case when ({wc}) = 0 then 0.0 "
            f"else round(len(list_filter({words}, w -> regexp_matches(w, '[a-zA-Z]')))::double"
            f" / ({wc}), 6) end"
        ),
        "dup_2gram_frac": _duck_dup_frac(words, 2),
        "dup_3gram_frac": _duck_dup_frac(words, 3),
        "dup_4gram_frac": _duck_dup_frac(words, 4),
    }


def duckdb_rule_conditions(th: GopherThresholds = DEFAULT_THRESHOLDS) -> dict[str, str]:
    """Reason-code -> SQL condition over the aliased signal columns."""
    return {
        "gopher.word_count": (
            f"(word_count < {th.min_word_count} or word_count > {th.max_word_count})"
        ),
        "gopher.mean_word_length": (
            f"(mean_word_len < {th.min_mean_word_length}"
            f" or mean_word_len > {th.max_mean_word_length})"
        ),
        "gopher.symbol_ratio": f"(symbol_ratio > {th.max_symbol_to_word_ratio})",
        "gopher.stopwords": (
            f"(lang = 'en' and distinct_stopwords < {th.min_distinct_stopwords})"
        ),
        "gopher.alpha_ratio": f"(alpha_word_frac < {th.min_alpha_word_frac})",
        "gopher.dup_ngram": (
            f"(dup_2gram_frac > {th.max_dup_2gram_frac}"
            f" or dup_3gram_frac > {th.max_dup_3gram_frac}"
            f" or dup_4gram_frac > {th.max_dup_4gram_frac})"
        ),
    }


def duckdb_reasons_sql(conditions: dict[str, str]) -> str:
    parts = ", ".join(
        f"case when {cond} then '{code}' end" for code, cond in conditions.items()
    )
    return f"list_sort(list_filter([{parts}], x -> x is not null))"


def charset_signal_sql(text_col: str = "text", engine: str = "spark"
                       ) -> dict[str, str]:
    """Character-class quality signals (round 5): non-ASCII ratio (mojibake
    / encoding-artifact proxy — legitimate non-Latin text also scores, so
    this is a FEATURE for per-language calibration, not a drop rule on its
    own), digit ratio (SEO spam / data dumps), uppercase ratio (shouting),
    whitespace ratio (layout scraping artifacts). All pure char-counting
    expressions, 6dp, zero-guarded; engine-paired from one builder so the
    DuckDB oracle checks them end-to-end.

    Counting method per engine: Spark ``regexp_count``; DuckDB has no
    regexp_count, so count = chars removed by ``regexp_replace(..., 'g')``
    (exactly one char per match for single-char classes).
    """
    t = f"coalesce({text_col}, '')"
    chars = f"length({t})"
    if engine == "spark":
        ws = _WS_CLASS_SPARK
        non_ascii = "[^ -~\\\\t\\\\n\\\\r]"

        def cnt(pat: str) -> str:
            return f"regexp_count({t}, '{pat}')"
    else:
        ws = _WS_CLASS_DUCK
        non_ascii = "[^ -~\\t\\n\\r]"

        def cnt(pat: str) -> str:
            return f"({chars} - length(regexp_replace({t}, '{pat}', '', 'g')))"

    def ratio(pat: str) -> str:
        return (f"case when {chars} = 0 then cast(0.0 as double) "
                f"else round(cast({cnt(pat)} as double) / {chars}, 6) end")

    return {
        "non_ascii_ratio": ratio(non_ascii),
        "digit_ratio": ratio("[0-9]"),
        "upper_ratio": ratio("[A-Z]"),
        "ws_ratio": ratio(f"{ws}"),
    }
