"""Cross-engine twin equality on REALISTIC web text — leading tabs, Unicode
whitespace (U+00A0/U+3000), non-ASCII letters adjacent to PII/toxicity
matches. Round-1 advice: the ASCII-space synth corpus silently masked
tokenizer (\\s semantics differ between Java/RE2/Python) and word-boundary
(\\b Unicode vs ASCII) divergences; these tests pin them.
"""

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from data_quality_autohealer_spark.functions import scrub as scrub_mod
from data_quality_autohealer_spark.functions import text_heuristics as th
from data_quality_autohealer_spark.operators.scoring import (
    heuristic_signal_batch,
)
from oracle.rules import heuristic_signals

NASTY_TEXTS = [
    "\tthe quick brown fox jumps over the lazy dog",   # leading tab
    "word1 word2 word3",                           # NBSP: not a separator
    "a　b c",                                       # ideographic space
    "ends with newline\n",
    "\x0bvertical\x0btab\x0bsoup\x0b",                  # VT: Java-vs-RE2 \s gap
    "  the   of  and  to  ",                            # multi-space + strip
    "mixed\t\n \x0c\rws tokens here",
    "  only unicode ws ",                # NBSP at both ends
    "", " ", "\t\t", None,                              # empties
    "café naïve résumé words",      # accented letters
]

SIGNALS = th.SIGNAL_COLS


def _duck_signals(texts):
    con = duckdb.connect()
    con.register("docs_in", pd.DataFrame({
        "doc_id": range(len(texts)), "text": texts}))
    con.execute("create table documents as select * from docs_in")
    sigs = th.duckdb_signal_sql("text")
    cols = ", ".join(f"{sql} as {name}" for name, sql in sigs.items())
    return con.execute(
        f"select doc_id, {cols} from documents order by doc_id").fetchdf()


def test_nasty_whitespace_four_way_agreement(spark):
    s = pd.Series(NASTY_TEXTS)
    batch = heuristic_signal_batch(s, th.DEFAULT_THRESHOLDS.stopwords)
    orc = heuristic_signals(s)
    duck = _duck_signals(NASTY_TEXTS)
    pdf = pd.DataFrame({"doc_id": range(len(NASTY_TEXTS)), "text": s})
    sdf = spark.createDataFrame(pdf)
    native = (th.with_signal_columns(sdf, "text")
              .select("doc_id", *SIGNALS).toPandas()
              .sort_values("doc_id").reset_index(drop=True))
    for c in SIGNALS:
        a = native[c].to_numpy()
        for label, other in (("udf-batch", batch[c].to_numpy()),
                             ("pandas-oracle", orc[c].to_numpy()),
                             ("duckdb", duck[c].to_numpy())):
            assert (a == other).all(), (
                f"{c} vs {label}: spark={a.tolist()} other={other.tolist()}")


def test_nbsp_is_not_a_word_separator():
    # U+00A0 must NOT split words (str.split() would; the canonical ASCII
    # tokenizer must not)
    b = heuristic_signal_batch(pd.Series(["word1 word2 word3"]),
                               th.DEFAULT_THRESHOLDS.stopwords)
    assert b.loc[0, "word_count"] == 2


def test_leading_tab_word_count():
    # Java split on un-stripped text would yield a leading '' token (wc=10);
    # the canonical tokenizer strips first in every engine
    b = heuristic_signal_batch(
        pd.Series(["\tthe quick brown fox jumps over the lazy dog"]),
        th.DEFAULT_THRESHOLDS.stopwords)
    assert b.loc[0, "word_count"] == 9


SCRUB_TEXTS = [
    "damnés et détestés",          # tox stem + accented tail
    "damnés damn plain",                      # mixed: only bare 'damn'
    "café 123-45-6789 et 123-45-6789é",  # SSN abutting é
    "ip 10.0.0.1é and 10.0.0.2 ok",           # IP abutting é
    "xéhell hell",                            # tox preceded by é
    "phone 555-123-4567ß done",               # phone abutting ß
    "normal damn text with user@example.com",
]


def test_scrub_nonascii_adjacency_matches_duckdb():
    py = scrub_mod.scrub_series(pd.Series(SCRUB_TEXTS))
    con = duckdb.connect()
    con.register("docs_in", pd.DataFrame({
        "doc_id": range(len(SCRUB_TEXTS)), "text": SCRUB_TEXTS}))
    con.execute("create table documents as select * from docs_in")
    parts = scrub_mod.duckdb_scrub_sql("text")
    duck = con.execute(
        f"select {parts['scrubbed_text']} as scrubbed_text, "
        f"{parts['n_email']} as n_email, {parts['n_ssn']} as n_ssn, "
        f"{parts['n_phone']} as n_phone, {parts['n_ip']} as n_ip, "
        f"{parts['n_tox']} as n_tox from documents order by doc_id"
    ).fetchdf()
    for i in range(len(SCRUB_TEXTS)):
        assert py.loc[i, "scrubbed_text"] == duck.loc[i, "scrubbed_text"], (
            f"row {i}: py={py.loc[i, 'scrubbed_text']!r} "
            f"duck={duck.loc[i, 'scrubbed_text']!r}")
        for c in ["n_email", "n_ssn", "n_phone", "n_ip", "n_tox"]:
            assert int(py.loc[i, c]) == int(duck.loc[i, c]), (i, c)


def test_ascii_boundary_semantics():
    # RE2 \b is ASCII-only: 'damnés' HAS a boundary after 'damn'. With
    # re.ASCII the Python path agrees (Unicode \b would see é as a word char
    # and skip the match).
    out = scrub_mod.scrub_columns(["damnés"])
    assert out["scrubbed_text"][0] == "<TOX>és"
    assert out["n_tox"][0] == 1


def _digits(n):
    return st.text(alphabet="0123456789", min_size=n, max_size=n)


def _mixed_case(word):
    # each letter in either case; U+017F (long s) and U+212A (Kelvin sign)
    # fold to 's'/'k' under Unicode case-insensitivity but not ASCII
    variants = {"s": "sS\u017f", "k": "kK\u212a"}
    return st.tuples(*[st.sampled_from(variants.get(c, c + c.upper()))
                       for c in word]).map("".join)


_EMAIL = st.one_of(
    st.just("a@b.cc@d.ee"),
    st.builds("{}@{}.{}".format,
              st.text(alphabet="abcXYZ019._%+-", min_size=1, max_size=6),
              st.text(alphabet="abcz09.-", min_size=1, max_size=6),
              st.text(alphabet="abcXYZ", min_size=1, max_size=4)))
_SSN = st.builds("{}-{}-{}".format, _digits(3), _digits(2), _digits(4))
_SEP = st.sampled_from(["-", ".", " "])
_PHONE = st.builds(
    "{}{}{}{}{}{}{}{}".format,
    st.sampled_from(["", "+1 ", "+1-", "1.", "+1.", "1 "]),
    st.sampled_from(["", "("]), _digits(3), st.sampled_from(["", ")"]),
    _SEP, _digits(3), _SEP, _digits(4))
_DOTTED = st.integers(4, 5).flatmap(lambda n: st.lists(
    st.text(alphabet="0123456789", min_size=1, max_size=3),
    min_size=n, max_size=n).map(".".join))
_TOX = st.sampled_from(scrub_mod.TOXICITY_WORDS).flatmap(_mixed_case)
# ASCII and non-ASCII neighbours: é, ß, U+3000, NBSP, long s, Kelvin sign
_NEIGHBOUR = st.sampled_from(
    [" ", "  ", "\t", "\n", "x", "Z", "_", "7", ".", "-", "@", "(",
     "\u00e9", "\u00df", "\u3000", "\u00a0", "\u017f", "\u212a"])
_SCRUB_TEXT = st.lists(st.one_of(_EMAIL, _SSN, _PHONE, _DOTTED, _TOX,
                                 _NEIGHBOUR), max_size=10).map("".join)


@given(st.lists(_SCRUB_TEXT, min_size=1, max_size=8))
@settings(max_examples=150, deadline=None)
def test_scrub_matches_re2_on_generated_pii_and_toxicity(texts):
    """scrub_series against its RE2 twin (duckdb_scrub_sql), which shares
    no code with it: every count and the scrubbed bytes."""
    py = scrub_mod.scrub_series(pd.Series(texts))
    parts = scrub_mod.duckdb_scrub_sql("text")
    cols = ["scrubbed_text"] + scrub_mod.SCRUB_COUNT_COLS
    duck = duckdb.connect().execute(
        "select " + ", ".join(f"{parts[c]} as {c}" for c in cols)
        + " from (select unnest(?) as text, generate_subscripts(?, 1) as i)"
        " order by i", [texts, texts]).fetchdf()
    for i, t in enumerate(texts):
        assert (py.loc[i, "scrubbed_text"].encode("utf-8")
                == duck.loc[i, "scrubbed_text"].encode("utf-8")), repr(t)
        for c in scrub_mod.SCRUB_COUNT_COLS:
            assert int(py.loc[i, c]) == int(duck.loc[i, c]), (repr(t), c)
