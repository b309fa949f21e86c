"""Integer ``SPARK_GRAFT_*`` settings read from the environment."""

from __future__ import annotations

import os
import warnings


def env_int(name: str, default: int) -> int:
    """The non-negative integer in environment variable `name`, or
    `default` when it is unset, empty, malformed or negative. A bad value
    warns instead of raising: a typo in a tuning setting must not fail a
    write or a scan deep inside the program."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = -1
    if value < 0:
        warnings.warn(
            f"{name}={raw!r} is not a non-negative integer; "
            f"using the default {default}",
            RuntimeWarning,
            stacklevel=2,
        )
        return default
    return value
