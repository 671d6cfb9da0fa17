"""The watermark-removal SPEC — the single normative definition of
tokenisation, shingling, mask mining and mask application.

The reference repo declares (but never implements) the contract
"preprocess -> generate mask -> inpaint masked region -> postprocess"
(reference ``core/lama_wrapper.py:44-52``).  The graft re-expresses that
for web text: the per-item "image" is a page's text, the "mask" is the
set of 64-bit xxhash64 shingle hashes of per-domain boilerplate
templates, and "inpainting" is deletion of fully-masked lines.

Every implementation in this repo — the Catalyst expression pipeline,
the vectorized pandas UDF, the pure-pandas oracle, and the DuckDB
oracle SQL — must agree with the functions in this module byte for
byte.  Keep it dependency-free (stdlib only) so the oracle stays an
independent trust anchor.

Normative rules
---------------
tokens(line)    = line split on the single character U+0020, empty
                  tokens removed.  (NOT ``str.split()`` — that would
                  also split tabs/newlines and is not reproducible with
                  Spark's ``split(col, ' ')``.)
shingles(line)  = k-gram token shingles joined by one space; if
                  0 < len(tokens) <= k the single shingle is the whole
                  token list joined by one space; if len(tokens) == 0
                  there are no shingles.
line hash set   = xxhash64(utf8(shingle), seed=42) per shingle.
mask(domain)    = shingle hashes whose *document frequency* (number of
                  distinct pages of the domain containing the shingle)
                  is >= theta * n_pages(domain), for domains with
                  n_pages >= min_pages.
masked(line)    = line has >= 1 shingle AND every shingle hash is in
                  the domain mask.
clean_text      = '\n'.join(lines that are NOT masked); lines with no
                  tokens are always kept (preserves blank-line bytes).
"""

from __future__ import annotations

from dataclasses import dataclass

from .hashing import xxhash64_str

DEFAULT_SHINGLE_K = 3
DEFAULT_THETA = 0.6
DEFAULT_MIN_PAGES = 3


@dataclass(frozen=True)
class MaskConfig:
    """Knobs of the mask miner; defaults are the tested contract."""

    shingle_k: int = DEFAULT_SHINGLE_K
    theta: float = DEFAULT_THETA
    min_pages: int = DEFAULT_MIN_PAGES


def tokenize(line: str) -> list[str]:
    return [t for t in line.split(" ") if t]


def shingles(line: str, k: int = DEFAULT_SHINGLE_K) -> list[str]:
    toks = tokenize(line)
    n = len(toks)
    if n == 0:
        return []
    if n <= k:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + k]) for i in range(n - k + 1)]


def shingle_hashes(line: str, k: int = DEFAULT_SHINGLE_K) -> list[int]:
    return [xxhash64_str(s) for s in shingles(line, k)]


def line_is_masked(line: str, mask: frozenset[int] | set[int], k: int = DEFAULT_SHINGLE_K) -> bool:
    hs = shingle_hashes(line, k)
    return bool(hs) and all(h in mask for h in hs)


def clean_text(text: str, mask: frozenset[int] | set[int], k: int = DEFAULT_SHINGLE_K) -> str:
    lines = text.split("\n")
    return "\n".join(ln for ln in lines if not line_is_masked(ln, mask, k))


def doc_shingle_hash_set(text: str, k: int = DEFAULT_SHINGLE_K) -> set[int]:
    """Distinct shingle hashes of a whole document (for DF counting)."""
    out: set[int] = set()
    for ln in text.split("\n"):
        out.update(shingle_hashes(ln, k))
    return out


def domain_of(url: str) -> str:
    """Host part of an http(s) URL — matches ``F.try_parse_url(url, 'HOST')``
    for the well-formed ``https://host/path`` URLs of the data model."""
    rest = url.split("://", 1)[-1]
    host = rest.split("/", 1)[0]
    return host.split(":", 1)[0]
