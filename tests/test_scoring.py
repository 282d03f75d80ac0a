"""The frame contract of ``operators.scoring.score_batch``: the scoring
crossing (``SCORE_SCHEMA``), ``with_model_scores`` and the oracle rely on
its column order, its dtypes and its index."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import DoubleType, IntegerType, LongType, StringType

from data_quality_autohealer_spark import synth
from data_quality_autohealer_spark.operators.scoring import (
    SCORE_FIELDS,
    SCORE_SCHEMA,
    score_batch,
)

_DTYPE = {IntegerType: "int32", LongType: "int64", DoubleType: "float64",
          StringType: "object"}

BATCHES = {
    "empty": pd.Series([], dtype=object),
    "all_none": pd.Series([None, None, None], dtype=object),
    "one_doc": pd.Series(["the cat sat on the mat with a damn hat"]),
    "offset_index": synth.gen_pages_pdf(np.arange(12))["text"].iloc[5:9],
}


@pytest.mark.parametrize("name", list(BATCHES))
def test_score_batch_frame_contract(name):
    text = BATCHES[name]
    out = score_batch(text)
    assert list(out.columns) == SCORE_FIELDS
    assert out.index.equals(text.index)
    assert {c: str(out[c].dtype) for c in SCORE_FIELDS} == {
        f.name: _DTYPE[type(f.dataType)] for f in SCORE_SCHEMA.fields}


def test_missing_texts_score_as_empty():
    out = score_batch(BATCHES["all_none"])
    assert out.equals(score_batch(pd.Series(["", "", ""])))
    assert (out["scrubbed_text"] == "").all()
    assert (out["lang_pred"] == "und").all()
