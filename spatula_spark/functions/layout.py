"""Table-layout operators: Z-order (Morton) clustering keys.

The lakehouse OPTIMIZE ZORDER primitive (Iceberg/Delta): interleave
the bits of two dimension columns so that sorting by the single
interleaved key co-locates rows that are close in BOTH dimensions.
Written as parquet with min/max column stats, a Z-ordered layout lets
a scan prune files for predicates on EITHER dimension — the 100 TB
trick that turns "filter on user_id AND ts" from a full scan into a
handful of files, with zero index structures.

Engine shape: the key is a pure map-side unrolled bit expression
(whole-stage codegen, no UDF, no shuffle); the layout step itself is
``repartitionByRange(zkey).sortWithinPartitions(zkey)`` — one range
exchange, exactly what a sorted-file rewrite costs. The reference has
no layout management at all (single-process JSON files; cf.
/root/reference/src/spatula/cli.py scrape output) — this is part of
the engine's "beyond the reference at scale" surface, alongside the
Iceberg snapshot backend in plans/snapshots.py.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton interleave of the low ``bits`` bits of two non-negative
    dimension columns: result bit 2i = bit i of ``a``, bit 2i+1 =
    bit i of ``b``. Unrolled into 2*bits integer terms (shift/and/
    multiply by literal powers — Catalyst folds each term into
    codegen; no loop, no UDF). bits <= 31 keeps the key in int64."""
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftright(a, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
        )
        terms.append(
            F.shiftright(b, i).bitwiseAND(F.lit(1))
            * F.lit(1 << (2 * i + 1))
        )
    return reduce(lambda x, y: x + y, terms).cast("long")


def zorder_key_duckdb(a_expr: str, b_expr: str, bits: int = 16) -> str:
    """DuckDB rendering of :func:`zorder_key` (same unrolled
    arithmetic) for exact oracles."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a_expr}) >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"((({b_expr}) >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")::BIGINT"


def zorder_layout(df, a: Column, b: Column, bits: int = 16,
                  key_name: str = "zkey"):
    """Attach the Z-order key and return the range-clustered frame —
    the rewrite an OPTIMIZE ZORDER job runs before writing parquet.
    One range exchange; files written from the result carry min/max
    stats tight in BOTH source dimensions."""
    keyed = df.withColumn(key_name, zorder_key(a, b, bits))
    return keyed.repartitionByRange(key_name).sortWithinPartitions(
        key_name
    )
