"""Model scoring + scrubbing + decision in ONE Arrow crossing per batch.

Reference analogue: the ensemble's detector sweep
(/root/reference/src/detectors/ensemble_classifier.py:91-139) — run every
model, collect scores, apply the threshold. The reference did this
per-profile on the driver; here it runs executor-side, once per Arrow
record batch, in ``mapInArrow`` tasks (:func:`with_batch_columns`, and
``run_filter``'s through :func:`decide_batch`) so models are deserialized
once per Python worker, not once per batch (the ``spark-submit
--py-files``-friendly equivalent of a broadcast variable).

What is batched and what is not: langid and perplexity are numpy passes over
the whole batch; the Gopher signals tokenize and count in one Python loop
per document, and the scrub runs one regex screen per document (plus the
substitution passes on the few that hit). Each kernel returns plain arrays,
``decision.decide_frame`` decides on them, and one Arrow batch goes back.
"""

from __future__ import annotations

import functools
import re as _re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import langid as _langid
from ..functions import perplexity as _pplx
from ..functions.rule_ops import round6
from ..functions.scrub import as_texts, scrub_columns
from ..functions.text_heuristics import _SYMBOL_CLASS, _WS_CHARS
from ..session import forget_zip_finders
from .decision import decide_frame

SCORE_SCHEMA = StructType([
    StructField("word_count", IntegerType()),
    StructField("mean_word_len", DoubleType()),
    StructField("symbol_ratio", DoubleType()),
    StructField("distinct_stopwords", IntegerType()),
    StructField("alpha_word_frac", DoubleType()),
    StructField("dup_2gram_frac", DoubleType()),
    StructField("dup_3gram_frac", DoubleType()),
    StructField("dup_4gram_frac", DoubleType()),
    StructField("lang_pred", StringType()),
    StructField("lang_conf", DoubleType()),
    StructField("log_pplx", DoubleType()),
    StructField("scrubbed_text", StringType()),
    StructField("n_email", LongType()),
    StructField("n_ssn", LongType()),
    StructField("n_phone", LongType()),
    StructField("n_ip", LongType()),
    StructField("n_tox", LongType()),
])


_ALPHA_RE = _re.compile(r"[a-zA-Z]")
# explicit ASCII class — NOT \s (Python \s is Unicode-wide; the native
# Spark/DuckDB twins tokenize on this exact ASCII set)
_WS_RE = _re.compile("[" + _WS_CHARS + "]+")


def heuristic_signal_batch(text: pd.Series, stopwords: tuple[str, ...]
                           ) -> pd.DataFrame:
    """All 8 Gopher signals per batch (:func:`_signal_arrays`), aligned to
    the input index; a missing text scores as ''.

    Exact same semantics (and HALF_UP 6dp rounding) as the native column
    expressions in functions.text_heuristics — asserted equal in
    tests/test_signal_twins.py. Lives here because, in the pipeline hot path,
    Spark evaluates the split/higher-order-function expressions in
    interpreted mode ~50× slower than one batched Python pass (SURVEY §7.1.4);
    the native exprs remain the implementation for SQL-oracle-checked queries.
    """
    return pd.DataFrame(_signal_arrays(text.tolist(), stopwords),
                        index=text.index)


def _signal_arrays(texts: list[str], stopwords: tuple[str, ...]
                   ) -> dict[str, np.ndarray]:
    """The 8 signal columns of SCORE_SCHEMA as numpy arrays (word_count and
    distinct_stopwords int32, the rest float64), tokens split ONCE per
    document; a missing text scores as ''."""
    texts = as_texts(texts)
    stops = set(stopwords)
    n_docs = len(texts)
    cols: dict[str, list] = {
        "word_count": [0] * n_docs, "mean_word_len": [0.0] * n_docs,
        "symbol_ratio": [0.0] * n_docs, "distinct_stopwords": [0] * n_docs,
        "alpha_word_frac": [0.0] * n_docs,
        "dup_2gram_frac": [0.0] * n_docs, "dup_3gram_frac": [0.0] * n_docs,
        "dup_4gram_frac": [0.0] * n_docs,
    }
    sym_findall = _re.compile(_SYMBOL_CLASS).findall
    alpha_search = _ALPHA_RE.search
    ascii_ws = _WS_CHARS  # the native exprs' exact whitespace set
    ws_split = _WS_RE.split
    for i, t in enumerate(texts):
        # tokenize exactly like the native twins: strip leading/trailing
        # ASCII whitespace, split on ASCII whitespace runs (NOT str.split(),
        # which also splits on Unicode whitespace like U+00A0/U+3000)
        t2 = t.strip(ascii_ws)
        if not t2:
            continue
        w = ws_split(t2)
        wc = len(w)
        cols["word_count"][i] = wc
        # _WS_CHARS are distinct single characters, so their counts add up
        nospace = len(t) - sum(map(t.count, ascii_ws))
        cols["mean_word_len"][i] = round6(nospace / wc)
        cols["symbol_ratio"][i] = round6(len(sym_findall(t)) / wc)
        cols["distinct_stopwords"][i] = len(stops.intersection(w))
        n_alpha = 0
        for x in w:
            c0 = x[0]
            if ("a" <= c0 <= "z") or ("A" <= c0 <= "Z"):
                n_alpha += 1
            elif alpha_search(x):
                n_alpha += 1
        cols["alpha_word_frac"][i] = round6(n_alpha / wc)
        for n in (2, 3, 4):
            total = wc - n + 1
            if total < 1:
                continue
            distinct = len(set(zip(*(w[k:] for k in range(n)))))
            cols[f"dup_{n}gram_frac"][i] = round6(1.0 - distinct / total)
    return {name: np.array(v, dtype=np.int32 if name in (
        "word_count", "distinct_stopwords") else np.float64)
            for name, v in cols.items()}

SCORE_FIELDS = [f.name for f in SCORE_SCHEMA.fields]

SIGNAL_SCHEMA = StructType(SCORE_SCHEMA.fields[:8])


def with_batch_columns(df: DataFrame, fields: StructType, compute,
                       consumed: str | None = None) -> DataFrame:
    """Append ``fields`` to the rows of ``df`` in ONE ``mapInArrow``
    crossing: ``compute(batch)`` maps each field name to its values for one
    Arrow batch. The other input columns pass through, except ``consumed``.
    Catalyst never clones a ``mapInArrow`` node under a filter."""
    rest = [f for f in df.schema.fields
            if f.name not in fields.fieldNames() and f.name != consumed]
    return df.mapInArrow(functools.partial(
        _append_columns, [f.name for f in rest], fields, compute),
        StructType([*rest, *fields.fields]))


def _append_columns(rest: list[str], fields: StructType, compute, batches):
    import pyarrow as pa

    schema = to_arrow_schema(fields)
    for batch in batches:
        out = compute(batch)  # from_pandas: NaN is null, as in Spark's pandas
        yield pa.RecordBatch.from_arrays(
            [*map(batch.column, rest), *(pa.array(
                out[f.name], f.type, from_pandas=True) for f in schema)],
            names=[*rest, *schema.names])
    forget_zip_finders()


def with_signal_columns_batched(df: DataFrame,
                                text_col: str = "text") -> DataFrame:
    """The 8 Gopher signal columns of :func:`heuristic_signal_batch`,
    appended by :func:`with_batch_columns` — value-identical to
    text_heuristics.with_signal_columns (asserted in
    tests/test_signal_twins.py) but ~15× faster at sf1.0 (guide §4.2: the
    native split/higher-order-function expressions run interpreted; the
    batched Python pass tokenizes each doc once).  Used by the
    aggregation-shaped signal queries where the signal cost dominates; the
    native exprs remain for projection-shaped queries (their cost is pruned
    away) and as the engine-paired oracle twins."""
    from .distill import _spread
    return with_batch_columns(_spread(df), SIGNAL_SCHEMA,
                              functools.partial(_signal_columns, text_col))


def _signal_columns(text_col: str, batch) -> pd.DataFrame:
    from ..functions.text_heuristics import DEFAULT_THRESHOLDS
    return heuristic_signal_batch(batch.column(text_col).to_pandas(),
                                  DEFAULT_THRESHOLDS.stopwords)


def with_quality_signals_batched(df: DataFrame,
                                 text_col: str = "text") -> DataFrame:
    """Batched twin of text_heuristics.with_quality_signals: batched
    signals + the SAME native rule conditions / reasons / keep on top."""
    from ..functions import text_heuristics as th
    df = with_signal_columns_batched(df, text_col)
    reasons = th.spark_reasons_expr(th.spark_rule_conditions())
    return df.withColumn("reasons", reasons).withColumn(
        "keep", F.size("reasons") == 0)


MODEL_FIELDS = ["lang_pred", "lang_conf", "log_pplx", "scrubbed_text",
                "n_email", "n_ssn", "n_phone", "n_ip", "n_tox"]


def score_columns(texts: list[str]) -> dict[str, np.ndarray]:
    """Score + scrub + signal a list of texts: SCORE_FIELDS -> numpy array,
    in SCORE_SCHEMA order and dtypes (object for strings); every kernel
    scores a missing (non-string) text as ''."""
    from ..functions.text_heuristics import DEFAULT_THRESHOLDS

    cols = _signal_arrays(texts, DEFAULT_THRESHOLDS.stopwords)
    cols["lang_pred"], cols["lang_conf"] = (
        _langid.get_model().predict_arrays(texts))
    cols["log_pplx"] = _pplx.get_model().log_perplexity_array(texts)
    cols.update(scrub_columns(texts))
    return cols


def score_batch(text: pd.Series) -> pd.DataFrame:
    """:func:`score_columns` of one batch as ONE DataFrame aligned to the
    input index; a missing text scores as ''. The pandas oracle scores
    through it, and the Spark scoring and the in-process API check through
    :func:`score_and_decide`, so model outputs are identical by
    construction."""
    return pd.DataFrame(score_columns(text.tolist()), index=text.index)


DECIDED_SCHEMA = StructType([
    *SCORE_SCHEMA.fields,
    StructField("reasons", ArrayType(StringType())),
    StructField("keep", BooleanType()),
])


def score_and_decide(texts: list, langs: list, page_keep: list | None = None
                     ) -> tuple[dict[str, np.ndarray], dict]:
    """:func:`score_columns`, then ``decision.decide_frame`` against the
    claimed ``langs``: the one evaluator of the Spark scoring crossings
    (through :func:`decide_batch`) and of the API check.
    A null claim (a Kafka frame without the field) decides as 'und', as
    under Spark's null semantics; only the decision sees that 'und'.
    ``page_keep``: the C4 page flag of each text (``functions/c4.py``); a
    flagged page gains reason code ``c4.page`` (sorted in) and is dropped."""
    cols = score_columns(texts)
    claimed = np.array([lg if isinstance(lg, str) else "und" for lg in langs],
                       dtype=object)
    decided = decide_frame({**cols, "lang": claimed})
    if page_keep is not None:
        for i in np.flatnonzero(~np.asarray(page_keep, dtype=bool)):
            decided["reasons"][i] = sorted([*decided["reasons"][i], "c4.page"])
            decided["keep"][i] = False
    return cols, decided


def decide_batch(batch) -> tuple[dict[str, np.ndarray], dict]:
    """:func:`score_and_decide` of one Arrow batch of pages: its ``text``,
    claimed ``lang`` and C4 page flag ``_c4_keep`` (if the batch has it)."""
    flags = (batch.column("_c4_keep").to_pylist()
             if "_c4_keep" in batch.schema.names else None)
    return score_and_decide(batch.column("text").to_pylist(),
                            batch.column("lang").to_pylist(), flags)


def _decided_columns(batch) -> dict:
    cols, decided = decide_batch(batch)
    return {**cols, **decided}  # its confidences and codes go unread


def with_model_scores(df: DataFrame) -> DataFrame:
    """Attach the flattened kernel columns plus ``reasons`` (sorted codes)
    and ``keep`` (:func:`decide_batch`, through :func:`with_batch_columns`)
    from ``text``, the claimed ``lang`` and, when ``df`` has it, the C4 page
    flag column ``_c4_keep`` (consumed)."""
    return with_batch_columns(df, DECIDED_SCHEMA, _decided_columns,
                              consumed="_c4_keep")
