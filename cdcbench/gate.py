"""Correctness gate: the committed table must equal the batch replay.

Both sides are reduced to (row count, checksum). The checksum hashes every
page column separately and then hashes the five hashes together, so a NULL
in one column cannot be mistaken for a NULL in another: ``xxhash64`` skips
NULL arguments, but ``xxhash64`` of a lone NULL is the seed, which the
outer hash then folds in at the column's position. The per-row hashes are
summed as ``decimal(38,0)`` so the sum cannot overflow and is independent of
row order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GATE_COLUMNS = ("url", "warc_ts", "html", "text", "lang")


def checksum(df: DataFrame) -> tuple[int, str]:
    """(row count, order-independent null-position-sensitive checksum)."""
    row_hash = F.xxhash64(*[F.xxhash64(F.col(c)) for c in GATE_COLUMNS])
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(row_hash.cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)"))
        .cast("string")
        .alias("chk"),
    ).collect()[0]
    return int(r["n"]), r["chk"]


def gate(committed: DataFrame, replay: DataFrame) -> dict:
    """Compare two page tables; ``ok`` is True only on equal count and sum."""
    got = checksum(committed.select(*GATE_COLUMNS))
    want = checksum(replay.select(*GATE_COLUMNS))
    return {
        "ok": got == want,
        "rows": got[0],
        "replay_rows": want[0],
        "checksum": got[1],
        "replay_checksum": want[1],
    }
