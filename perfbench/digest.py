"""Order-independent digest of a workload's output rows."""

from __future__ import annotations

import datetime
import hashlib

__all__ = ["canonical", "digest_rows"]


def canonical(value) -> str:
    """One value as an unambiguous string: floats by ``repr`` (exact round
    trip), timestamps in ISO form, rows and lists recursively."""
    if value is None:
        return "N"
    if isinstance(value, bool):
        return "T" if value else "F"
    if isinstance(value, float):
        return "f" + repr(value)
    if isinstance(value, int):
        return "i" + str(value)
    if isinstance(value, str):
        return "s" + repr(value)
    if isinstance(value, datetime.date):   # datetime included
        return "t" + value.isoformat()
    if isinstance(value, (list, tuple)):   # pyspark Row is a tuple
        return "[" + ",".join(canonical(v) for v in value) + "]"
    raise TypeError(f"no canonical form for {type(value).__name__}")


def digest_rows(rows) -> str:
    """SHA-256 over the sorted canonical rows, prefixed by the row count:
    the same multiset of rows gives the same digest in any order."""
    lines = sorted(canonical(r) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return f"{len(lines)}:{h.hexdigest()[:32]}"
