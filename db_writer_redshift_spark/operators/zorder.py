"""Z-order (Morton-curve) multi-dimensional clustering for file pruning.

No counterpart in the reference (keboola/db-writer-redshift delegates
physical layout to Redshift, whose compound SORTKEY is the single-column
analog; it never sets one — `src/Keboola/DbWriter/Writer/Redshift.php:129-153`).
On a parquet lake this is the Delta `OPTIMIZE ZORDER BY` idea built from
DataFrame primitives: quantize each clustering column into rank space,
interleave the bits into one Morton code, range-partition + sort on it,
and write. Every output file then covers a small hyper-rectangle of the
key space, so parquet footer min/max stats prune file lists for
predicates on ANY of the clustered columns — a linear sort gives that
for its leading column only.

Why it matters at 100 TB: a point/range query on a non-leading column
over a linearly-sorted table touches EVERY file (each file spans the
full range of the second column); z-ordered, it touches ~N^((d-1)/d) of
N files for d clustered columns. The quantization pass is one tiny
min/max aggregate broadcast back onto the scan; the layout pass is the
same single range-shuffle a plain sorted write pays.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _quantize(c: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Map a numeric column into integer rank space [0, 2^bits) by linear
    min/max scaling (constant-width histogram). NULLs and degenerate
    (min==max) columns map to bucket 0 — they cannot help pruning but
    must not poison the code."""
    top = (1 << bits) - 1
    span = cmax.cast("double") - cmin.cast("double")
    scaled = F.floor(
        (c.cast("double") - cmin.cast("double")) / span * F.lit(top)
    )
    bounded = F.least(F.greatest(scaled, F.lit(0)), F.lit(top))
    # span.isNull covers the all-NULL column (min/max both NULL): the code
    # degrades to bucket 0 instead of poisoning __z with NULL.
    return (
        F.when(c.isNull() | span.isNull() | (span <= 0), F.lit(0))
        .otherwise(bounded)
        .cast("long")
    )


def morton_interleave(quantized: list[Column], bits: int) -> Column:
    """Interleave ``bits`` low bits of each quantized column into one
    Morton code: bit b of column i lands at position b*len(cols)+i.
    Pure shift/and/or arithmetic — whole-stage-codegen-friendly (no
    higher-order functions), total width bits*len(cols) ≤ 63."""
    n = len(quantized)
    if not (1 <= n * bits <= 63):
        raise ValueError("need 1 <= len(cols)*bits <= 63")
    parts = [
        F.shiftleft(F.shiftright(q, b).bitwiseAND(F.lit(1)), b * n + i)
        for i, q in enumerate(quantized)
        for b in range(bits)
    ]
    return reduce(lambda a, x: a.bitwiseOR(x), parts)


def with_zorder(df: DataFrame, cols: list[str], bits: int = 16) -> DataFrame:
    """Append a ``__z`` Morton-code column over ``cols``.

    The per-column min/max come from ONE 1-row aggregate broadcast back
    onto the scan (BroadcastNestedLoopJoin over a scalar row — no
    shuffle of the data side), so the whole computation is scan-stage
    arithmetic.

    Clustering columns must be numeric (or date/timestamp, which cast to
    a numeric epoch): a string column would cast('double') to NULL in
    _quantize, silently collapsing the whole Morton code — and the
    layout — to a single value; fail loudly instead."""
    numeric = {"byte", "short", "int", "bigint", "float", "double", "date"}
    dtypes = dict(df.dtypes)
    bad = [
        c
        for c in cols
        if not (
            dtypes.get(c, "").startswith("decimal")
            or dtypes.get(c, "").startswith("timestamp")
            or dtypes.get(c) in numeric
        )
    ]
    if bad:
        raise ValueError(
            f"z-order clustering columns must be numeric/temporal; got "
            f"{[(c, dtypes.get(c, '<missing>')) for c in bad]}"
        )
    def as_numeric(col: Column, dtype: str) -> Column:
        # DATE/TIMESTAMP have no double cast in Spark 4 — go through the
        # day number / epoch micros.
        if dtype == "date":
            return F.unix_date(col)
        if dtype.startswith("timestamp"):
            return F.unix_micros(col.cast("timestamp_ltz"))
        return col

    aggs = []
    for c in cols:
        nc = as_numeric(F.col(c), dtypes[c])
        aggs.append(F.min(nc).alias(f"__min_{c}"))
        aggs.append(F.max(nc).alias(f"__max_{c}"))
    stats = df.agg(*aggs)
    joined = df.join(F.broadcast(stats))
    quantized = [
        _quantize(
            as_numeric(F.col(c), dtypes[c]),
            F.col(f"__min_{c}"),
            F.col(f"__max_{c}"),
            bits,
        )
        for c in cols
    ]
    z = morton_interleave(quantized, bits)
    drop = [f"__min_{c}" for c in cols] + [f"__max_{c}" for c in cols]
    return joined.withColumn("__z", z).drop(*drop)


def zorder_clustered(
    df: DataFrame,
    cols: list[str],
    num_files: int,
    bits: int = 16,
) -> DataFrame:
    """``df`` clustered on the Morton code of ``cols``: range-partitioned
    into ``num_files`` z-contiguous slices, sorted within each, helper
    column dropped. One range shuffle — the same cost as a plain sorted
    write — buying multi-column footer-stats pruning. The partition count
    is explicit because an unnumbered repartitionByRange is
    AQE-coalescible, which would collapse the layout into one file."""
    return (
        with_zorder(df, cols, bits)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet in the :func:`zorder_clustered` layout."""
    zorder_clustered(df, cols, num_files, bits).write.mode("overwrite").parquet(path)


def file_minmax(path: str, column: str) -> list[tuple]:
    """Per-file (min, max) footer statistics for ``column`` — metadata
    only, no data scan. The pruning a real engine does from the same
    stats; used by tests to measure layout quality."""
    import os

    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == column
            )
            st = col.statistics
            if st is None or not st.has_min_max:
                return []  # stats unavailable — caller decides
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out.append((lo, hi))
    return out


def write_sorted(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int,
) -> None:
    """Totally-ordered parquet layout: range-partition on ``cols`` into
    ``num_files`` slices and sort within each — the single-column
    complement to the Morton layout (for one dominant filter/merge-join
    key, a plain total order prunes strictly better than z-order, whose
    value is multi-column trade-off). One range shuffle; downstream
    engines get disjoint per-file min/max footer ranges, so a point or
    range predicate touches the minimal file set, and merge-joins on the
    sort key can stream without re-sorting."""
    (
        df.repartitionByRange(num_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def files_overlap(ranges: list[tuple]) -> int:
    """Count pairwise overlaps among per-file (min, max) ranges — 0 means
    a perfect total order (every file prunable independently)."""
    n = 0
    for i in range(len(ranges)):
        for j in range(i + 1, len(ranges)):
            (alo, ahi), (blo, bhi) = ranges[i], ranges[j]
            if not (ahi < blo or bhi < alo):
                n += 1
    return n
