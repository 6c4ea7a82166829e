"""Invariant checks that stay on under ``python -O``."""

from __future__ import annotations


def require(cond: bool, msg: object) -> None:
    """Raise if ``cond`` is false — a gate or warehouse invariant, which
    unlike ``assert`` survives ``python -O``."""
    if not cond:
        raise RuntimeError(f"warehouse invariant violated: {msg}")
