"""The JVM lowercase whitespace tokenizer, defined once.

``tokens(col)`` is ``split(trim(lower(col)), '\\s+')``: the token array
every Spark-side LLM operator splits lowercased text with. The DuckDB
oracles spell the same split as
``regexp_split_to_array(trim(lower(text)), '\\s+')``. The single-space
``split(trim(text), ' ')`` forms elsewhere are a different,
oracle-matched concept and do not go through here.

Known difference from the Python ``str.split()`` that the Arrow-batch
stages (``dedup._minhash_batch_fn``, ``dedup._simhash_batch_fn``)
tokenize with:

- Java's ``\\s`` is ASCII whitespace only, so non-ASCII separators
  (NBSP, U+2003, U+3000, U+001C) stay inside a token here and split
  tokens in Python.
- ``trim`` strips only spaces, so a leading or trailing non-space
  separator (``'\\ta b'``) yields an empty edge token here and none in
  Python; likewise ``''`` gives ``['']`` here and ``[]`` in Python.

ASCII text with space edges tokenizes identically in both.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: str | Column) -> Column:
    """Lowercased tokens of ``col`` split on runs of ASCII whitespace."""
    return F.split(F.trim(F.lower(col)), r"\s+")
