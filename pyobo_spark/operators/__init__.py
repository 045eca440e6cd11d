"""Spark operators: the relational kernels the query registry, the
catalog API and the KG pipeline are built from."""

from __future__ import annotations


def env_edge_bound(name: str, default: int) -> int:
    """Non-negative integer edge bound from environment variable
    ``name``, or ``default`` when it is unset. A malformed or negative
    value falls back to ``default`` with a warning instead of failing
    the query that reads it."""
    import os
    import warnings

    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = -1
    if value < 0:
        warnings.warn(
            f"${name}={raw!r} is not a non-negative integer; "
            f"using the default {default}",
            stacklevel=2,
        )
        return default
    return value
