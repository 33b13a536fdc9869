"""The Z-order clustering kernel shared by the native writers
(``delta_writer.zorder_delta`` / ``cluster_delta`` and
``iceberg_writer.rewrite_data_files``)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zorder_cluster(
    df: DataFrame, cols: list[str], n_files: int = 8
) -> DataFrame:
    """Re-cluster ``df`` on the interleaved-bit order of ``cols``
    without a global sort of raw values —

    1. per-column 256-bucket boundaries via ``approxQuantile``
       (Greenwald-Khanna sketch; driver state = 255 numbers per
       column, regardless of table size),
    2. bucket id per row from the broadcast boundary array (a
       ``filter``-count over 255 literals, map-only),
    3. z-value by bit-interleaving the 8-bit bucket ids (built as a
       shift-add expression in Python, evaluated in codegen),
    4. ``repartitionByRange(n_files, z)`` + in-partition sort — ONE
       range shuffle, the same cost shape as a compaction.

    Quantile bucketization also makes the interleave skew-proof:
    value ranges with more rows get more buckets, so files end up
    near-equal-sized even on zipfian keys. Strings/binary order by
    ``xxhash64`` (clusters equal values, which is what pruning
    needs)."""
    if not cols or len(cols) > 4:
        raise ValueError("zorder needs 1-4 columns")
    n_buckets = 256
    probs = [i / n_buckets for i in range(1, n_buckets)]
    z_terms: list[F.Column] = []
    for ci, col in enumerate(cols):
        dtype = df.schema[col].dataType.simpleString()
        if dtype in ("string", "binary"):
            key = F.xxhash64(F.col(col)).cast("double")
            kname = f"__zk_{ci}"
            df = df.withColumn(kname, key)
            bounds = df.stat.approxQuantile(kname, probs, 0.01)
            src = F.col(kname)
        else:
            bounds = df.stat.approxQuantile(col, probs, 0.01)
            src = F.col(col).cast("double")
        if not bounds:  # all-null / empty column: one bucket
            bucket = F.lit(0)
        else:
            arr = F.array(*[F.lit(float(b)) for b in bounds])
            bucket = F.size(
                F.filter(arr, lambda b: b <= src)  # noqa: B023
            )
        # spread bucket bits to positions ci, ci+k, ci+2k, ... so
        # the k columns' bits interleave
        k = len(cols)
        spread = None
        for bit in range(8):
            term = (
                F.shiftright(bucket, bit).bitwiseAND(F.lit(1))
                * F.lit(1 << (bit * k + ci))
            )
            spread = term if spread is None else spread + term
        z_terms.append(spread)
    z = z_terms[0]
    for t in z_terms[1:]:
        z = z + t
    return (
        df.withColumn("__z", z.cast("long"))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__zk_{i}" for i in range(len(cols))])
    )
