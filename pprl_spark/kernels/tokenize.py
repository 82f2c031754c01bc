"""q-gram tokenization.

Parity: /root/reference/packages/pprl_core/pprl_core/common.py:9-28 —
pad ``(q-1)*padding`` on both sides, slide a window of ``q``, and return
the *set* of distinct grams.  With an empty padding string and
``len(value) < q`` the result is empty; callers that need the reference's
empty-token guard use :func:`tokenize_checked`
(routers/mask.py:190-200 semantics).
"""

from __future__ import annotations

__all__ = ["tokenize", "tokenize_checked"]


def tokenize(value: str, q: int = 2, padding: str = "_") -> set[str]:
    """Distinct q-grams of a padded string."""
    pad = padding * (q - 1)
    padded = f"{pad}{value}{pad}"
    return {padded[i : i + q] for i in range(len(padded) - q + 1)}


def tokenize_checked(entity_id: str, attr_name: str, value: str, q: int, padding: str) -> set[str]:
    """Tokenize, raising on zero tokens (reference routers/mask.py:190-200)."""
    tokens = tokenize(value, q, padding)
    if not tokens:
        raise ValueError(
            f"value for `{attr_name}` on entity with ID `{entity_id}` did not produce any "
            f"tokens - decrease the token size or add sufficient padding"
        )
    return tokens
