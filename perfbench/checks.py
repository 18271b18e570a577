"""Output checks that do not use the engine.

A digest is order-independent: each row is canonicalised (columns sorted by
name, maps sorted by key, integral floats written as integers) and hashed,
and the row hashes are summed mod 2**64. Spark and DuckDB results of the
same rows give the same digest whatever their row order.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import pyarrow as pa

from inputs import THRESHOLD_M


def _canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return str(int(v)) if v.is_integer() and abs(v) < 2**53 else repr(v)
    if isinstance(v, (bool, int, str)):
        return str(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        v = list(v.items())
    if isinstance(v, (list, tuple)):
        if v and all(isinstance(e, tuple) and len(e) == 2 for e in v):  # map
            return "{" + ",".join(sorted(f"{_canon(k)}:{_canon(x)}" for k, x in v)) + "}"
        return "[" + ",".join(_canon(e) for e in v) + "]"
    return repr(v)


def digest(table: pa.Table) -> str:
    cols = sorted(table.column_names)
    rows = table.select(cols).to_pylist()
    total = 0
    for r in rows:
        line = "\x1f".join(_canon(r[c]) for c in cols).encode()
        total += int.from_bytes(hashlib.blake2b(line, digest_size=8).digest(), "little")
    return f"{len(cols)}:{total % 2**64:016x}"


def conflation_errors(matched: pa.Table, new: pa.Table, all_ids: set,
                      must_match: frozenset) -> list[str]:
    """matched and new partition the input ids; every image with a planted
    feature within the threshold is matched; no dist_m exceeds it."""
    errs = []
    m_ids = matched.column("image_id").to_pylist()
    n_ids = new.column("image_id").to_pylist()
    m_set, n_set = set(m_ids), set(n_ids)
    if len(m_set) != len(m_ids) or len(n_set) != len(n_ids):
        errs.append("duplicate image_id in an output")
    if m_set & n_set:
        errs.append(f"{len(m_set & n_set)} images both matched and new")
    if (m_set | n_set) != all_ids:
        errs.append(f"outputs cover {len(m_set | n_set)} of {len(all_ids)} images")
    missed = must_match - m_set
    if missed:
        errs.append(f"{len(missed)} planted matches not matched")
    far = [d for d in matched.column("dist_m").to_pylist() if not d <= THRESHOLD_M]
    if far:
        errs.append(f"{len(far)} matches beyond {THRESHOLD_M} m")
    return errs
