"""Process-wide memo for immutable Column fragments.

Same device as ``sources/synth._COLS_MEMO``, made shareable: a Column is an immutable,
name-bound plan fragment, so rebuilding an identical one on every query
invocation only repeats hundreds of py4j round trips (measured 0.3-1.0 s
per build for the dedup/ANN trees — construction, not Catalyst, dominated
those queries' plan time). Reusing the object deduplicates ONLY that
Python-side construction: every query still analyzes, optimizes and
executes in full from the parquet inputs — no data, results, or resolved
plans are cached (the same economics as a module-level compiled regex).

Keys are explicit (site, params...) tuples because the builders close
over plain-Python parameters (column names, hash counts, band layout).
"""

from __future__ import annotations

_MEMO: dict = {}


def memo(key: tuple, build):
    """Return the memoized value for ``key``, building it once."""
    got = _MEMO.get(key)
    if got is None:
        got = _MEMO[key] = build()
    return got
