"""Shared argument guards for the functions package — one kernel per
guard so call sites cannot drift."""

from __future__ import annotations


def check_cols_tuple(name: str, value) -> None:
    """Reject a bare string for a columns-sequence parameter: it would
    silently iterate character-by-character (``keep_cols="lang"`` →
    ``F.col('l'), F.col('a'), ...``) — the near-certain call-site typo
    for ``("lang",)``. Shared by pii_redact's
    ``keep_cols`` and the classifier/lm ``carry_cols`` hooks."""
    if isinstance(value, str):
        raise TypeError(
            f"{name} must be a sequence of column names, got the bare "
            f"string {value!r} — write ({value!r},)"
        )
