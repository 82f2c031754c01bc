"""PII redaction for web-text curation — the C4/Dolma-style scrub step
(emails, phone numbers, IPv4 addresses, US-SSN-shaped ids) that runs
between quality filtering and sharding in every public LLM corpus
pipeline.  Beyond the reference surface (ul-mds/pprl has no corpus
curation); the privacy goal is shared with the reference's CLK masking
(reference: pprl/model/mask.py) but this operates on free text.

Design constraints:

* **Pure Catalyst projection** — chained ``regexp_replace`` /
  ``regexp_extract_all`` column expressions, JVM-side, whole-stage
  codegen, zero shuffle.  At 100 TB this is a map-only pass that rides
  whatever scan the pipeline already runs.
* **RE2-compatible patterns** — no lookarounds or backreferences, so
  the exact same pattern strings run under Java ``java.util.regex``
  (Spark) and RE2 (DuckDB oracle / Go scanners) with identical match
  sets.  Parity is pinned by tests/test_round6.py.
* **Sequential semantics** — kinds are applied in the fixed order of
  ``PII_PATTERNS``; each kind's match count is taken on the text AFTER
  the previous kinds were redacted, so overlapping matches (an IPv4
  inside a URL that an email pattern already consumed, a phone number
  whose digits an SSN already claimed) are never double-counted and
  the count columns always sum to the number of replacement tokens in
  the output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["PII_PATTERNS", "pii_redaction", "redact_pii"]

#: kind → RE2-compatible pattern, in application order (emails first:
#: their local parts can contain digit runs the later patterns would
#: misread; IPv4 before phone: dotted quads are not phone numbers).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9](?:[A-Za-z0-9\-]*[A-Za-z0-9])?(?:\.[A-Za-z0-9](?:[A-Za-z0-9\-]*[A-Za-z0-9])?)*\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    # US-shaped phone: separators are REQUIRED (plain 10-digit runs stay
    # untouched — too many false positives on ids/timestamps)
    "phone": r"(?:\+?1[-. ])?\(?\b\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b",
}


def _kinds(kinds: "list[str] | None") -> list[str]:
    if kinds is None:
        return list(PII_PATTERNS)
    unknown = [k for k in kinds if k not in PII_PATTERNS]
    if unknown:
        raise ValueError(
            f"unknown PII kind(s) {unknown}; known: {list(PII_PATTERNS)}"
        )
    # preserve canonical application order regardless of caller order
    return [k for k in PII_PATTERNS if k in kinds]


def pii_redaction(
    col: Column | str, kinds: "list[str] | None" = None, fmt: str = "<{kind}>"
) -> "tuple[Column, dict[str, Column]]":
    """``(redacted, counts)``: the text with every PII match replaced by
    ``fmt`` (default ``<email>`` / ``<ipv4>`` / ``<ssn>`` / ``<phone>``),
    applied in ``PII_PATTERNS`` order, and kind → match count under the
    sequential semantics documented in the module docstring (each count
    is taken after the earlier kinds were redacted, so the counts sum to
    the replacement-token total)."""
    cur = F.col(col) if isinstance(col, str) else col
    counts: dict[str, Column] = {}
    for kind in _kinds(kinds):
        pat = PII_PATTERNS[kind]
        counts[kind] = F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        cur = F.regexp_replace(cur, pat, fmt.format(kind=kind))
    return cur, counts


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: "str | None" = None,
    kinds: "list[str] | None" = None,
    fmt: str = "<{kind}>",
    with_counts: bool = True,
) -> DataFrame:
    """Redacted-text column (``out_col``, default replacing
    ``text_col``) plus, when ``with_counts``, one ``pii_<kind>`` int
    column per kind.  One map-only projection — composes with
    filter/dedup stages without adding a job boundary."""
    redacted, counts = pii_redaction(text_col, kinds, fmt)
    if with_counts:
        df = df.withColumns({f"pii_{kind}": c for kind, c in counts.items()})
    return df.withColumn(out_col or text_col, redacted)
