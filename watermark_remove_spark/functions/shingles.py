"""Catalyst expression builders for the shingle SPEC (``spec.py``).

Everything here compiles to built-in JVM expressions — ``split``,
``filter``, ``transform``, ``sequence``, ``slice``, ``array_join``,
``xxhash64`` — so shingling of the full 100 TB corpus runs inside
whole-stage codegen with zero Python.  Mask *application* is not
here: it is the ``mapInArrow`` kernel of ``operators/extract.py``, with
the masks shipped once per stream.  The Python spec functions are the
oracle only.

Parity with ``spec.tokenize`` / ``spec.shingles`` is asserted in
``tests/test_spec.py`` and ``tests/test_extract.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..spec import DEFAULT_SHINGLE_K


def tokens_expr(line: Column) -> Column:
    """split on single space, drop empty tokens — spec.tokenize."""
    return F.filter(F.split(line, " ", -1), lambda t: t != F.lit(""))


def kgram_windows_expr(toks: Column, k: int) -> Column:
    """array<string> of space-joined k-gram windows over a token array
    (the ONE window builder: shingling and the rolling fingerprints all
    share it).  n==0 -> []; n<=k -> the whole line as one gram.

    ``toks`` is bound once through a transform over a one-element array
    (Catalyst has no let): used directly, a token expression would be
    re-split and re-filtered for every window of the line."""

    def windows(t: Column) -> Column:
        n = F.size(t)
        return (
            F.when(n == 0, F.array().cast("array<string>"))
            .when(n <= k, F.array(F.array_join(t, " ")))
            .otherwise(
                F.transform(
                    F.sequence(F.lit(1), n - F.lit(k - 1)),
                    lambda i: F.array_join(F.slice(t, i, k), " "),
                )
            )
        )

    return F.transform(F.array(toks), windows)[0]


def line_shingles_expr(line: Column, k: int = DEFAULT_SHINGLE_K) -> Column:
    """array<string> of k-gram shingles of one line — spec.shingles."""
    return kgram_windows_expr(tokens_expr(line), k)


def doc_shingles_expr(text: Column, k: int = DEFAULT_SHINGLE_K) -> Column:
    """array<string> of ALL shingles of a document (per line, flattened)."""
    lines = F.split(text, "\n", -1)
    return F.flatten(F.transform(lines, lambda ln: line_shingles_expr(ln, k)))


def doc_distinct_shingle_hashes_expr(text: Column, k: int = DEFAULT_SHINGLE_K) -> Column:
    """array<long> of DISTINCT xxhash64 shingle hashes of a document.

    array_distinct before explode = map-side dedup, shrinking the
    shuffle feeding the document-frequency aggregate.
    """
    return F.array_distinct(F.transform(doc_shingles_expr(text, k), lambda s: F.xxhash64(s)))


def domain_expr(url: Column) -> Column:
    """Host of the url — spec.domain_of (O-12).  An unparseable url
    yields a null domain (never masked) instead of failing the query."""
    return F.try_parse_url(url, F.lit("HOST"))
