"""The engine's single tokenizer (SURVEY.md §2.8 F9).

The reference delegates tokenization to its embedding model's tokenizer
(/root/reference/requirements.txt:2-3, opaque); the target engine defines one
explicit tokenizer used IDENTICALLY at index-build time, at query time, and in
every oracle: extract the runs of the tokenizer's character class from the raw
text, then lowercase each token. The default ``ascii`` tokenizer extracts
``[A-Za-z0-9]+`` runs; lowering pure-ASCII tokens keeps the semantics
engine-independent (Python/JVM/DuckDB unicode lowercasing differ on exotic
codepoints; ASCII lowering does not).

One Python implementation, plus the same rule in the two other engines
(tested equal on a mixed-script fixture):

- :class:`TokenizerSpec` — ``tokens(text)`` for one text and ``batch(texts)``
  for a batch (one ``findall`` per text, one ``pd.factorize`` over the batch's
  token stream, one ``lower()`` per unique raw token). It is the only Python
  code that applies the rule: the build's pack pass, query terms, the brute
  BM25/phrase/dedup operators and the numpy oracle all call it.
- :func:`tokens_expr` / :func:`doclen_expr` — the Catalyst (JVM) form,
  whole-stage codegen'd; used where staying in the JVM wins.
- ``TokenizerSpec.duckdb_sql`` — the DuckDB SQL form, for driver oracles.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_PATTERN = r"[A-Za-z0-9]+"


class TokenizerSpec:
    """One named tokenizer, expressed identically in all three engines.

    ``py_pattern`` (Python re), ``jvm_pattern`` (Java regex — Spark
    split/regexp_count), and ``sql_split`` (RE2 — the DuckDB oracle's
    regexp_split_to_array class) must select the SAME character set; the
    per-variant tests assert three-way token equality on a mixed-script
    fixture. Extraction is boundary-splitting on the negated class +
    lowercase, the same shape for every variant.
    """

    def __init__(self, name: str, py_pattern: str, jvm_pattern: str, sql_split: str):
        self.name = name
        self.py_pattern = py_pattern
        self.jvm_pattern = jvm_pattern
        self.sql_split = sql_split
        self.regex = re.compile(py_pattern)

    def tokens(self, text: str | None) -> list[str]:
        """One text -> its lowercase token stream (None/'' -> [])."""
        return [m.lower() for m in self.regex.findall(text or "")]

    def batch(self, texts: Iterable[str | None]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Texts -> ``(lens, codes, terms)``: each text's token count, the
        batch's flat token stream as int64 codes into ``terms``, and the
        distinct lowercase terms in first-occurrence order.

        Lowering runs once per unique RAW token; the codes are then re-keyed
        onto the distinct lowered terms, so case variants ("Spark"/"spark")
        share one code and expanding ``terms[codes]`` by ``lens`` gives
        exactly ``[tokens(t) for t in texts]``."""
        findall = self.regex.findall
        per_text = [findall(t) if t else [] for t in texts]
        lens = np.fromiter((len(t) for t in per_text), dtype=np.int64, count=len(per_text))
        flat = np.asarray([tok for toks in per_text for tok in toks], dtype=object)
        if not flat.shape[0]:
            return lens, np.empty(0, dtype=np.int64), np.empty(0, dtype=object)
        raw_codes, raw = pd.factorize(flat, sort=False)
        lowered = np.asarray([u.lower() for u in raw], dtype=object)
        term_codes, terms = pd.factorize(lowered, sort=False)
        return lens, term_codes[raw_codes].astype(np.int64, copy=False), terms

    @property
    def jvm_split(self) -> str:
        """Negated class for F.split (token-boundary runs)."""
        return "[^" + self.jvm_pattern[1:]

    @property
    def duckdb_sql(self) -> str:
        """{col} -> list<varchar> of lowercase tokens (oracle template)."""
        return (
            f"list_transform(list_filter(regexp_split_to_array({{col}}, "
            f"'{self.sql_split}'), t -> t <> ''), t -> lower(t))"
        )


# The per-index tokenizer config point (params.json "tokenizer", README
# "Tokenizer contract"). "ascii" is the engine default — bit-identical to
# every pre-round-5 index. "unicode" selects letter/number runs in any
# script ([\p{L}\p{N}] ≡ Python [^\W_]: categories L* ∪ Nd/Nl/No) with full
# Unicode lowercasing. Python and the JVM agree on every codepoint
# (special-cased in tests); the DuckDB oracle's simple case mapping
# diverges ONLY on U+0130 İ (the one multi-char lowercase mapping in
# Unicode) — oracle fixtures exclude it, documented here rather than
# papered over.
TOKENIZERS: dict[str, TokenizerSpec] = {
    "ascii": TokenizerSpec(
        "ascii", TOKEN_PATTERN, TOKEN_PATTERN, "[^A-Za-z0-9]+"
    ),
    "unicode": TokenizerSpec(
        "unicode", r"[^\W_]+", r"[\p{L}\p{N}]+", r"[^\pL\pN]+"
    ),
}


def get_tokenizer(name: str) -> TokenizerSpec:
    try:
        return TOKENIZERS[name]
    except KeyError:
        raise ValueError(
            f"unknown tokenizer {name!r}; available: {sorted(TOKENIZERS)}"
        ) from None


def doclen_expr(col: Column | str, tokenizer: str = "ascii") -> Column:
    """JVM token count: regexp_count(text, pattern) — a codegen expression,
    NOT a higher-order function and NOT a Python UDF, so the assembly stage
    that sums per-turn doclens stays whole-stage-codegen with zero Python
    workers. Verified equal, per variant, to ``len(TokenizerSpec.tokens)``
    (mixed-script fixture tests)."""
    c = F.col(col) if isinstance(col, str) else col
    pat = get_tokenizer(tokenizer).jvm_pattern
    return F.regexp_count(F.coalesce(c, F.lit("")), F.lit(pat)).cast("int")


def tokens_expr(col: Column | str, tokenizer: str = "ascii") -> Column:
    """Catalyst equivalent of :meth:`TokenizerSpec.tokens` (verified equal)."""
    c = F.col(col) if isinstance(col, str) else col
    split = F.split(F.coalesce(c, F.lit("")), get_tokenizer(tokenizer).jvm_split)
    nonempty = F.filter(split, lambda t: t != "")
    return F.transform(nonempty, F.lower)
