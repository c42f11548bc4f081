"""LWW reduction kernels — the engine's core dedup/merge primitive.

Semantics pinned by the reference's latest-record-per-key idiom
(``feature_engineering.py:238-240``, SURVEY.md J7/W4), hardened with a total
tiebreak: winner per key = max by ``(ts, _lww_offset, _lww_partition)``.

Two kernels, chosen by ``cdc/apply.py::apply_batch`` from the batch itself:

- *locator* (:func:`lww_winner_locators` + the bitmap fetch in
  ``cdc/apply.py``): a packed-decimal HashAggregate that never sorts and
  never moves payload bytes. Needs the log manifest's dense offset ranges,
  inside the packed stamp's bit budget and the driver-transfer budget.
- *agg* (:func:`lww_reduce`): ``groupBy(keys).agg(max_by(struct, stamp))``
  with **map-side partial combine** — a hot key is reduced inside every map
  task before the shuffle, so per-key skew cannot create a straggler. The
  aggregation buffer carries strings, so Catalyst plans SortAggregate (a
  partial sort per map partition), not HashAggregate: correct and
  skew-proof, but the sort+GC cost is why the locator kernel is preferred
  wherever it applies.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_STAMP = ("ts", "_lww_offset", "_lww_partition")


def lww_reduce(
    df: DataFrame,
    key_cols: Sequence[str],
    stamp_cols: Sequence[str] = DEFAULT_STAMP,
) -> DataFrame:
    """One winning row per ``key_cols``, chosen by lexicographic max of
    ``stamp_cols``. Column set/order of the input is preserved."""
    keys = list(key_cols)
    stamp = F.struct(*[F.col(c) for c in stamp_cols])
    cols = df.columns
    # key columns ride as the grouping key; duplicating them inside the
    # max_by payload struct would re-shuffle the same bytes (~10% of the
    # wide-row width for the transcript key) for nothing
    nonkey = [c for c in cols if c not in keys]
    payload = F.struct(*[F.col(c) for c in nonkey])
    return (
        df.groupBy(*keys)
        .agg(F.max_by(payload, stamp).alias("_w"))
        .select(*[
            F.col(c) if c in keys else F.col(f"_w.{c}").alias(c)
            for c in cols
        ])
    )


# Packed-stamp layout: ts_micros × 2^52 + offset × 2^16 + partition, as
# DECIMAL(38,0). Bit budget: |ts_micros| < 2^51 (±year ~73k), offset < 2^36
# (covers 10^10 events/partition), partition < 2^16. Lexicographic order of
# (ts, offset, partition) is preserved exactly; the max is a FIXED-WIDTH
# aggregation buffer, so Catalyst plans a true HashAggregate. The wide-struct
# ``max_by`` CANNOT: a string-bearing aggregation buffer forces SortAggregate
# — which quietly made the r1/r2 LWW kernel sort every candidate row per
# batch (the measured CPU+GC scaling killer at high core counts).
PACK_TS_SHIFT = 1 << 52
PACK_OFF_SHIFT = 1 << 16
PACK_MAX_OFFSET = 1 << 36
PACK_MAX_PARTITION = 1 << 16
_DEC_TS_SHIFT = f"CAST({PACK_TS_SHIFT}L AS decimal(38,0))"


# The LWW stamp ``(ts, offset, partition)`` packed into one DECIMAL(38,0),
# order-preserving, as a SQL expression string. NULL ts sorts below every
# real ts (same as struct comparison in the ``max_by`` kernel).
_PACKED_STAMP = (
    f"CAST(coalesce(unix_micros(CAST(`ts` AS timestamp)), {-(1 << 62)}L)"
    f" AS decimal(38,0)) * {_DEC_TS_SHIFT} + CAST(`_lww_offset`"
    f" * {PACK_OFF_SHIFT} + `_lww_partition` AS decimal(38,0))")


def lww_winner_locators(
    df: DataFrame,
    key_cols: Sequence[str],
    outside: str = "false",
) -> DataFrame:
    """Per-key winner LOCATOR ``(p, o)`` — the source coordinates of the LWW
    winning row — via hash aggregation over the packed stamp, plus the key's
    row count ``n`` and ``n_out``, its rows matching the boolean SQL
    predicate ``outside`` (the apply path's manifest cross-check). The plan
    reads ONLY the key/stamp columns (payloads are column-pruned out of the
    scan) and its aggregation buffer is one 16-byte decimal and two longs, so
    a change batch is reduced without sorting and without a single payload
    byte on the wire. One ``agg`` of server-parsed SQL and one
    ``selectExpr``: the build costs the same few Py4J calls at any table
    width."""
    return (
        df.groupBy(*key_cols)
        .agg(F.expr(f"CAST(pmod(max({_PACKED_STAMP}), {_DEC_TS_SHIFT}) AS bigint)"
                    " AS _low"),
             F.expr("count(1) AS n"), F.expr(f"count_if({outside}) AS n_out"))
        .selectExpr(f"CAST(_low & {PACK_OFF_SHIFT - 1} AS int) AS p",
                    "shiftright(_low, 16) AS o", "n", "n_out")
    )
