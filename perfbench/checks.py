"""Output checks: an order-independent row checksum and the readers
that feed it from what the program wrote to disk."""

from __future__ import annotations

import hashlib
import math

MASK64 = (1 << 64) - 1

VIOLATION_COLUMNS = ("partition_id", "doc_id", "constraint_id", "field", "message")


def _canon(v) -> str:
    if v is None:
        return "\x00<null>"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def rows_checksum(rows) -> tuple[int, int]:
    """``(row count, sum of per-row 64-bit digests mod 2**64)``.

    The sum makes it independent of row order while still counting a
    duplicated row twice (an XOR would cancel the pair)."""
    n = total = 0
    for row in rows:
        digest = hashlib.blake2b(
            "\x1f".join(_canon(v) for v in row).encode(), digest_size=8
        ).digest()
        total = (total + int.from_bytes(digest, "little")) & MASK64
        n += 1
    return n, total


def read_violations(path: str) -> list[tuple]:
    """Violation rows of a ``partitionBy("partition_id")`` parquet
    directory, as tuples in ``VIOLATION_COLUMNS`` order."""
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    return list(zip(*(table.column(c).to_pylist() for c in VIOLATION_COLUMNS)))
