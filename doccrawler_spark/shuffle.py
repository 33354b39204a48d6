"""Shuffle-aware distributed utilities: global sequence numbers,
salted per-group top-k, and the one way driver-held rows enter a plan.

The first two exist because the naive formulations collapse to a
single task:

* ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY moves the
  whole dataset through ONE partition — unusable at 10^10 rows.
  :func:`global_sequence` instead range-partitions on the order key,
  numbers rows *within* each partition (parallel windows), and shifts
  by per-partition offsets computed from a tiny count aggregate —
  the classic zipWithIndex two-phase pattern, kept in DataFrame land.

* ``row_number() OVER (PARTITION BY host ...)`` serializes a hot host
  (one host holding 60% of the frontier is a named fixture property).
  :func:`topk_per_group` first ranks within ``salt`` random sub-groups
  of each host (parallel), keeps k per sub-group, then ranks the
  surviving ≤ salt·k rows per host — the final skewed window sees a
  bounded row count regardless of host size.

:func:`local_relation` exists because ``createDataFrame(list_of_rows)``
builds a pickled Python RDD, and every consumer of it pays a scan job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

_SEQ_PID = "__seq_pid"
_SEQ_RN = "__seq_rn"
_SEQ_OFF = "__seq_off"
_SALT = "__salt"
_SUB_RN = "__sub_rn"


def arrow_table(rows, schema: "StructType | str"):
    """Driver-held ``rows`` (tuples in ``schema`` field order, or a
    ``pyarrow.Table``) as one Arrow table typed from the Spark schema —
    the form both a local relation and an Arrow snapshot commit take.
    Column-wise ``pa.array`` keeps NULLs in int columns (a pandas hop
    would turn them into float NaN)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        return rows.select(arrow_schema.names).cast(arrow_schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )


def local_relation(
    spark: SparkSession, rows, schema: "StructType | str"
) -> DataFrame:
    """A DataFrame over driver-held ``rows`` (as :func:`arrow_table`
    takes them) that plans as a ``LocalTableScan``: the rows travel as
    one Arrow table typed from the Spark schema, so no consumer runs a
    scan job.  Past ``spark.sql.execution.arrow.localRelationThreshold``
    Spark itself falls back to an RDD, so no size gate is needed here."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)


def global_sequence(
    df: DataFrame,
    order_cols: list[str],
    out_col: str,
    start: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = dense global sequence (start, start+1, ...)
    following the total order of ``order_cols`` (must be unique).

    ``num_partitions`` sizes the range exchange; callers that know the
    input is small (early crawl rounds) pass 1, which skips the range
    sampling + offset jobs entirely — a single-partition window is
    cheaper than the two-phase machinery below ~100k rows."""
    n = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    if int(n) == 1:
        w = Window.orderBy(*[F.col(c) for c in order_cols])
        # row_number is an int; the range path's offsets are longs, and
        # a size gate must not change the column's type
        return (
            df.coalesce(1)
            .withColumn(out_col, (F.row_number().over(w) - 1
                                  + F.lit(start)).cast("long"))
        )
    ranged = df.repartitionByRange(int(n), *order_cols).withColumn(
        _SEQ_PID, F.spark_partition_id()
    )
    ranged = ranged.localCheckpoint(eager=False)  # reuse one shuffle for both jobs
    counts = ranged.groupBy(_SEQ_PID).count().collect()
    # partition ids follow the range order, so cumulative counts = offsets
    offsets: dict[int, int] = {}
    acc = start
    for row in sorted(counts, key=lambda r: r[_SEQ_PID]):
        offsets[row[_SEQ_PID]] = acc
        acc += row["count"]
    off_df = local_relation(
        df.sparkSession,
        list(offsets.items()) or [(0, start)],
        f"{_SEQ_PID} int, {_SEQ_OFF} long",
    )
    w = Window.partitionBy(_SEQ_PID).orderBy(*[F.col(c) for c in order_cols])
    return (
        ranged.withColumn(_SEQ_RN, F.row_number().over(w))
        .join(F.broadcast(off_df), _SEQ_PID)
        .withColumn(out_col, F.col(_SEQ_OFF) + F.col(_SEQ_RN) - F.lit(1))
        .drop(_SEQ_PID, _SEQ_RN, _SEQ_OFF)
    )


def topk_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    k_col,
    salt: int = 32,
    unique_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split ``df`` into (top-k, rest) per group, ordered by order_cols.

    ``k_col`` is a Column (may vary per row, e.g. per-host quota).
    Returns both halves so the caller can defer the rest.  Skew-safe:
    two-phase salted ranking as described in the module docstring.
    """
    order = [F.col(c) for c in order_cols]
    salt_src = F.col(unique_col) if unique_col else F.concat_ws("\0", *order_cols)
    salted = df.withColumn(_SALT, F.pmod(F.xxhash64(salt_src), F.lit(salt)))
    w_sub = Window.partitionBy(group_col, _SALT).orderBy(*order)
    pre = salted.withColumn(_SUB_RN, F.row_number().over(w_sub))
    # a row can only be in the true top-k if it's in its sub-group's top-k
    survivors = pre.filter(F.col(_SUB_RN) <= k_col)
    eliminated = pre.filter(F.col(_SUB_RN) > k_col)

    w_full = Window.partitionBy(group_col).orderBy(*order)
    ranked = survivors.withColumn(_SEQ_RN, F.row_number().over(w_full))
    top = ranked.filter(F.col(_SEQ_RN) <= k_col).drop(_SALT, _SUB_RN, _SEQ_RN)
    rest = ranked.filter(F.col(_SEQ_RN) > k_col).drop(_SALT, _SUB_RN, _SEQ_RN).unionByName(
        eliminated.drop(_SALT, _SUB_RN)
    )
    return top, rest
