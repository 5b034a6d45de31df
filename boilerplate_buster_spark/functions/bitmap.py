"""Packed Bloom bitmap gates: the one gate format of every gated scan (the
reference's P3 word-DF pre-filter, bloom_gram_miner.cpp:414-421).

A gate is a one-row frame `bf array<bigint>`, a bitmap of size(bf) * 64
bits (a power of two) in which each gated value sets two bits
(`bitmap_bits`); a scan broadcasts it and tests a value with
`bitmap_probe`.  Building one takes one bounded collect: the cluster ORs
the values' bits per 64-bit word of a BITMAP_BITS bitmap (`bitmap_words`,
at most BITMAP_BITS // 64 rows, however many values), and the driver sizes
the gate at 64 bits per value and folds the words down to that size
(`bitmap_gate`).  A bit of the BITMAP_BITS bitmap masked to a smaller power
of two is the bit at that size, so the fold rehashes nothing.  A gate sized
to what it holds stays small: Spark copies it with every row a scan's
lambda reads.  False positives only ADD rows, which the callers' exact
counts drop.  (Spark's bloom_filter_agg is not in the public function
registry - UNRESOLVED_ROUTINE on 4.1 - so the bitmap is built from public
ops.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: the collect's bitmap (4 Mbit -> at most 65,536 words) and the largest gate
BITMAP_BITS = 1 << 22

_BITMAP_SCHEMA = T.StructType([T.StructField("bf", T.ArrayType(T.LongType()))])


def driver_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """A frame of driver-side rows (they come from Spark results, so no
    per-row schema verification).  Built from a pyarrow Table, the frame is
    a local relation - an empty one too - so reading it runs no Spark job
    (a broadcast of it, under AQE, is a short job of its own); a row list
    would be parallelized and unpickled by Python workers in a job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    cols = list(zip(*rows)) if rows else [[] for _ in schema.names]
    return spark.createDataFrame(
        pa.table(dict(zip(schema.names, cols)), schema=to_arrow_schema(schema))
    )


def gram_hash(hs_ref: str, i: str, n: int) -> str:
    """SQL: order-sensitive combine of the n consecutive 64-bit token hashes
    of array `hs_ref` from position i (xor of per-position rotations) - the
    value a gram gate holds; a collision only admits one more gram start."""
    terms = []
    for k in range(n):
        e = f"element_at({hs_ref}, {i} + {k})"
        sh = (k * 21) % 61
        terms.append(e if sh == 0 else f"shiftleft({e}, {sh})")
    return " ^ ".join(terms)


def bitmap_bits(x: str, n_bits: int | str | None = None) -> list[str]:
    """SQL: the two bit indices of value `x` (an SQL expression, string or
    bigint) in a bitmap of `n_bits` bits (default BITMAP_BITS)."""
    m = BITMAP_BITS if n_bits is None else n_bits
    return [f"pmod(xxhash64({x}), {m})", f"pmod(xxhash64({x}, 7), {m})"]


def bitmap_cells(x: str) -> str:
    """SQL array of value `x`'s two cells (idx, v, n) in the BITMAP_BITS
    bitmap: the 64-bit word idx, the bit v it sets there, and n = 1 (cells
    merged into one row add their n)."""
    return "array(" + ", ".join(
        f"named_struct('idx', shiftright({b}, 6), "
        f"'v', shiftleft(CAST(1 AS bigint), CAST({b} & 63 AS int)), 'n', 1L)"
        for b in bitmap_bits(x)
    ) + ")"


def bitmap_words(frame: DataFrame, x: str) -> DataFrame:
    """(idx, v, n): the cells of SQL value `x` over `frame`'s rows merged per
    64-bit word - v the bit_or of the word's bits, n its cell count (two per
    row) - the one bounded collect a gate takes."""
    return (
        frame.select(F.explode(F.expr(bitmap_cells(x))).alias("c"))
        .groupBy("c.idx")
        .agg(F.expr("bit_or(c.v)").alias("v"), F.sum("c.n").alias("n"))
    )


def bitmap_gate(spark: SparkSession, cells: list) -> DataFrame:
    """The gate of the values whose `bitmap_cells` are `cells` (collected
    `bitmap_words` rows, or the cells themselves): 64 bits per value (two
    cells per value; ~0.1% false positives per probe), rounded up to a power
    of two and at most BITMAP_BITS, as a one-row `bf array<bigint>` frame."""
    import numpy as np

    n_items = sum(c["n"] for c in cells) // 2
    n_bits = min(BITMAP_BITS, 1 << max(6, (64 * n_items - 1).bit_length()))
    packed = np.zeros(n_bits // 64, dtype=np.int64)
    idx = np.array([c["idx"] for c in cells], dtype=np.int64) & (n_bits // 64 - 1)
    np.bitwise_or.at(packed, idx, np.array([c["v"] for c in cells], dtype=np.int64))
    return driver_frame(spark, [(packed,)], _BITMAP_SCHEMA)


def bitmap_probe(x: str) -> str:
    """SQL predicate: value `x` (an SQL expression) passes both probes of
    the gate bf (in scope), at bf's own size.  shiftright on bigint is
    arithmetic, which still lands the target bit at position 0 before the
    & 1 mask - bit 63 included."""
    return " AND ".join(
        f"((shiftright(element_at(bf, cast(shiftright({b}, 6) AS int) + 1), "
        f"cast({b} & 63 AS int)) & 1) = 1)"
        for b in bitmap_bits(x, "size(bf) * 64")
    )
