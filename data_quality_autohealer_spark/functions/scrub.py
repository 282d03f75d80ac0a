"""PII + toxicity scrubbing — ONE implementation shared by the Spark scoring
crossing and the pandas oracle, so scrubbed text is byte-identical by construction.

Reference analogue: the quarantine/winsorize/coerce remediation steps
(/root/reference/src/remediation/airflow_dags/outlier_remediation.py:89-137,
type_mismatch.py:79-94) — "fix the bad values, keep the row" — re-expressed as
regex substitution over document text.

Pattern constraints: every pattern must be valid and semantically identical in
Python ``re`` (this module / the oracle / the Spark scoring) AND RE2
(the DuckDB oracle twins in ``duckdb_scrub_sql``): no lookarounds, no
backreferences, ASCII word boundaries only.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# Order matters: SSN before PHONE (both are digit-dash shapes), EMAIL first
# (usernames may contain digits), IP last.
PII_PATTERNS: list[tuple[str, str, str]] = [
    # (name, pattern, replacement)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b(\+?1[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b", "<PHONE>"),
    ("ip", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
]

# Mild deterministic toxicity wordlist (placeholder lexicon; swap for a real
# one in production via config). Lowercase; matched in any ASCII case.
TOXICITY_WORDS: tuple[str, ...] = (
    "damn", "hell", "crap", "idiot", "moron", "stupid", "jerk", "loser",
)
# ASCII case classes, not (?i): RE2's (?i) folds U+017F (long s) to 's' and
# U+212A (Kelvin sign) to 'k', Python's re.ASCII and Java's default do not.
TOX_PATTERN = (r"\b(" + "|".join("".join(f"[{c}{c.upper()}]" for c in w)
                                  for w in TOXICITY_WORDS) + r")\b")
TOX_REPLACEMENT = "<TOX>"

# re.ASCII: Python \b is Unicode-aware by default but RE2/DuckDB \b is
# ASCII-only — without the flag, 'damnés' scrubs differently in the two
# engines (RE2 sees a word boundary after 'damn'; Unicode-\b does not).
# The pattern STRINGS stay identical in both engines; only the Python
# compile flag changes.
_COMPILED_PII = [(name, re.compile(pat, re.ASCII), repl)
                 for name, pat, repl in PII_PATTERNS]
_COMPILED_TOX = re.compile(TOX_PATTERN, re.ASCII)


# superset pre-filter: every PII pattern requires '@' (email) or a digit
# (ssn/phone/ip); toxicity requires one of the wordlist stems. A document
# matching none of the triggers cannot match any pattern — it skips the 5
# substitution passes entirely. False positives just take the slow path and
# come out unchanged, so output equality is preserved.
_SCREEN = re.compile("(?i)@|[0-9]|" + "|".join(TOXICITY_WORDS), re.ASCII)
_PASSES = ([(pat, repl) for _, pat, repl in _COMPILED_PII]
           + [(_COMPILED_TOX, TOX_REPLACEMENT)])
SCRUB_COUNT_COLS = [f"n_{name}" for name, _, _ in PII_PATTERNS] + ["n_tox"]


def scrub_columns(texts: list[str]) -> dict[str, np.ndarray]:
    """Scrub a list of documents: ``scrubbed_text`` (object array) and the
    :data:`SCRUB_COUNT_COLS` counts (int64 arrays); a missing (non-string)
    text scrubs as ''.

    One screen per document; only a document with a potential hit (a few %
    of a web corpus) runs one ``subn`` per pattern, in pattern order, each
    counting its matches in the text the previous pattern left. ``subn``
    counts what ``findall`` counts because no pattern matches the empty
    string.
    """
    out = as_texts(texts)
    counts = [[0] * len(out) for _ in _PASSES]
    screen = _SCREEN.search
    for i, t in enumerate(out):
        if not screen(t):
            continue
        for k, (pat, repl) in enumerate(_PASSES):
            t, counts[k][i] = pat.subn(repl, t)
        out[i] = t
    return {"scrubbed_text": np.array(out, dtype=object),
            **{c: np.array(n, dtype=np.int64)
               for c, n in zip(SCRUB_COUNT_COLS, counts)}}


def scrub_series(text: pd.Series) -> pd.DataFrame:
    """:func:`scrub_columns` of a batch, aligned to the input index.

    Columns ``scrubbed_text, n_email, n_ssn, n_phone, n_ip, n_tox``; a
    missing text scrubs as ''. The same core runs inside the Spark scoring
    (through ``scoring.score_columns``) and inside the oracle —
    byte-identical output by construction.
    """
    return pd.DataFrame(scrub_columns(text.tolist()), index=text.index)


def as_texts(texts: list) -> list[str]:
    """A new list of the batch's texts; a missing (non-string) entry is ''."""
    return [t if isinstance(t, str) else "" for t in texts]


# ---------------------------------------------------------------------------
# DuckDB oracle twins (RE2). Same patterns, same order, same replacements.
# ---------------------------------------------------------------------------


def duckdb_scrub_sql(text_col: str = "text") -> dict[str, str]:
    """SQL fragments: scrubbed_text + per-type counts, matching scrub_series."""
    expr = f"coalesce({text_col}, '')"
    counts: dict[str, str] = {}
    for name, pat, repl in PII_PATTERNS:
        counts[f"n_{name}"] = (
            f"len(regexp_extract_all({expr}, '{pat}'))::bigint"
        )
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    counts["n_tox"] = f"len(regexp_extract_all({expr}, '{TOX_PATTERN}'))::bigint"
    expr = f"regexp_replace({expr}, '{TOX_PATTERN}', '{TOX_REPLACEMENT}', 'g')"
    # count columns reference the PRE-replacement text at each stage, exactly
    # like scrub_series; build as nested select in the caller.
    return {"scrubbed_text": expr, **counts}
