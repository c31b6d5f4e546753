"""Row-level DML core shared by the Delta and Iceberg write faces.

Delete, update and merge on both formats find their target rows the same
way: scan only the predicate columns of the candidate files with per-file
row lineage (``_metadata.file_path`` / ``row_index``), then decide from
the observed match count where the matched positions live:

- at or under :data:`DRIVER_ROW_LIMIT` they collect into per-file
  position sets on the driver (the driver tier: no extra Spark job,
  cheapest at fixture scale);
- above it the ``(_fp, _pos)`` frame stays distributed (the executor
  tier) and the format writes its deletes from the executors.

Either way the face gets one :class:`Matched` and selects the matched
pairs of a file group through :meth:`Matched.pairs`.  Each format keeps
what really differs: column resolution, the delete encoding (Delta
deletion vectors, Iceberg position/equality delete files) and the commit.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_sync_spark.io import decode_file_uri, decoded_path_col

#: driver/executor crossover for matched positions and merge key sets.
#: Forcing every face onto the executor tier measured 1.2-2.3x slower at
#: benchmark scale; SCALING.md ("Round-12 DML write-face axes") holds the
#: sweep over the crossover.
DRIVER_ROW_LIMIT = 1_000_000


@dataclass
class Matched:
    """Matched rows of one DML face, keyed by the format's file key
    (Delta: table-relative path; Iceberg: the manifest's raw path).

    ``path_of`` maps each key to the absolute path the lineage scan
    decodes to.  On the driver tier ``per_file`` holds the positions per
    key; on the executor tier ``frame`` is the distributed matched frame
    and ``files`` the affected keys once they are known."""

    path_of: dict
    per_file: dict | None = None
    frame: DataFrame | None = None
    files: list = field(default_factory=list)

    @property
    def keys(self) -> list:
        """Affected file keys, sorted."""
        if self.per_file is not None:
            return sorted(self.per_file)
        return self.files

    def pairs(self, spark: SparkSession, keys) -> DataFrame:
        """The matched ``(_afp, _pos)`` pairs of the files ``keys``: a
        broadcast literal frame on the driver tier, a filter of the
        distributed frame (which must carry ``_afp``) on the executor
        tier."""
        if self.per_file is None:
            paths = [self.path_of[k] for k in keys]
            return self.frame.where(F.col("_afp").isin(paths)).select(
                "_afp", "_pos"
            )
        rows = [(self.path_of[k], p)
                for k in keys for p in sorted(self.per_file[k])]
        return F.broadcast(spark.createDataFrame(rows, ["_afp", "_pos"]))

    def release(self) -> None:
        if self.frame is not None:
            self.frame.unpersist()


def lineage_scan(spark: SparkSession, paths, schema: T.StructType,
                 columns: dict) -> DataFrame:
    """Scan ``paths`` under the pinned ``schema`` and project the file
    URI ``_fp``, the row index ``_pos`` and ``columns`` (logical name ->
    column over the physical schema)."""
    return spark.read.schema(schema).parquet(*paths).select(
        F.col("_metadata.file_path").alias("_fp"),
        F.col("_metadata.row_index").alias("_pos"),
        *[c.alias(n) for n, c in columns.items()],
    )


def predicate_scan(spark: SparkSession, paths, schema: T.StructType,
                   columns: dict, column_filter: dict,
                   in_filter: tuple | None = None,
                   in_frame: tuple | None = None) -> DataFrame:
    """``(_fp, _pos)`` of the rows matching the conjunction of
    ``column_filter`` (``{col: (lo, hi)}``, either bound may be None),
    ``in_filter`` (``(col, values)``, an IN list pushed to the scan) and
    ``in_frame`` (``(col, keys_df)``, a semi-join for key sets too large
    for an IN list).  NULL fails every range predicate (SQL)."""
    scan = lineage_scan(spark, paths, schema, columns)
    for c, (lo, hi) in column_filter.items():
        if lo is not None:
            scan = scan.filter(F.col(c) >= lo)
        if hi is not None:
            scan = scan.filter(F.col(c) <= hi)
    if in_filter is not None:
        scan = scan.filter(F.col(in_filter[0]).isin(in_filter[1]))
    if in_frame is not None:
        kc, keys_df = in_frame
        scan = scan.join(keys_df.toDF(kc), on=kc, how="leftsemi")
    return scan.select("_fp", "_pos")


def _unmapped(fp) -> ValueError:
    return ValueError(
        "scanned file missing from the snapshot map "
        f"(URI normalization mismatch): {fp}"
    )


def match(pairs: DataFrame, path_of: dict) -> Matched | None:
    """Decide the tier from the observed match count.  ``limit(cap+1)``
    bounds what the driver materializes, so an oversized match set never
    builds on the driver before the decision.  None when nothing
    matches."""
    rows = pairs.limit(DRIVER_ROW_LIMIT + 1).collect()
    if not rows:
        return None
    if len(rows) > DRIVER_ROW_LIMIT:
        return Matched(path_of, frame=pairs)
    key_of = {p: k for k, p in path_of.items()}
    per_file: dict = {}
    for r in rows:
        key = key_of.get(os.path.abspath(decode_file_uri(r._fp)))
        if key is None:
            raise _unmapped(r._fp)
        per_file.setdefault(key, set()).add(r._pos)
    return Matched(path_of, per_file=per_file)


def attach(spark: SparkSession, frame: DataFrame, rows: list,
           columns: list, how: str = "inner") -> DataFrame:
    """Executor-tier frame with the decoded absolute path ``_afp`` and
    per-file ``columns`` joined on from ``rows``
    (``[(abs_path, *values)]``, broadcast: metadata scale)."""
    files = spark.createDataFrame(rows, ["_afp", *columns])
    return frame.withColumn("_afp", decoded_path_col(F.col("_fp"))).join(
        F.broadcast(files), "_afp", how
    )


def check_attached(frame: DataFrame, column: str, what: str) -> None:
    """Raise when a left :func:`attach` left rows unmapped: an inner join
    would have dropped them silently."""
    if frame.where(F.col(column).isNull()).first():
        raise _unmapped(f"in the executor-tier {what}")


def merge_keys(source: DataFrame, key_col: str, dtype):
    """Distinct source keys cast to the table's ``dtype``:
    ``(keys_df, keys)``, ``keys`` collected on the driver tier and None
    above :data:`DRIVER_ROW_LIMIT`.  NULL keys refuse: SQL ``=`` never
    matches NULL while Iceberg's equality read is null-safe, so a
    null-keyed upsert would differ between the formats."""
    keys_df = source.select(F.col(key_col).cast(dtype)).distinct()
    keys = [r[0] for r in keys_df.limit(DRIVER_ROW_LIMIT + 1).collect()]
    if len(keys) > DRIVER_ROW_LIMIT:
        has_null = keys_df.where(F.col(key_col).isNull()).limit(1).count()
        keys = None
    else:
        has_null = any(k is None for k in keys)
    if has_null:
        raise ValueError(
            "merge_upsert source contains NULL keys — upsert keys must "
            "be non-null"
        )
    return keys_df, keys


def group_by_partition(keys, partition_of) -> dict:
    """File keys grouped by their partition tuple
    (``partition_of(key)`` -> ``{name: value}``): rewritten rows land one
    file per tuple so the partition metadata stays authoritative."""
    groups: dict = {}
    for k in keys:
        pv = partition_of(k) or {}
        groups.setdefault(tuple(sorted(pv.items())), []).append(k)
    return groups


def split_tuples(frame: DataFrame, key_cols: list):
    """Distinct tuples of ``frame`` over ``key_cols`` ordered None-first,
    plus a null-safe per-tuple filter builder."""
    tuples = sorted(
        frame.select(*key_cols).distinct().collect(),
        key=lambda r: tuple((v is None, v) for v in r),
    )

    def cond_for(t):
        cond = None
        for c in key_cols:
            term = F.col(c).eqNullSafe(F.lit(t[c]))
            cond = term if cond is None else cond & term
        return cond

    return tuples, cond_for


def matched_rows(spark: SparkSession, matched: Matched, keys,
                 scan: DataFrame) -> DataFrame:
    """Rows of the lineage ``scan`` over the files ``keys`` at their
    matched positions."""
    return scan.withColumn("_afp", decoded_path_col(F.col("_fp"))).join(
        matched.pairs(spark, keys), ["_afp", "_pos"], "inner"
    )


def updated_groups(spark: SparkSession, matched: Matched, groups: dict,
                   read, set_values: dict, types: dict):
    """The UPDATE rewrite, per partition group in sorted order: yields
    ``(gi, pv_tuple, rows, exprs)`` where ``rows`` are the group's
    matched rows (``read(keys)`` is the format's full-row lineage scan)
    and ``exprs`` maps every column of ``rows`` to its new value.  All
    SET expressions evaluate against the ORIGINAL row in one select
    (simultaneous assignment: ``SET k=9, v=k+1`` sees the old ``k``)."""
    sets = {c: (v if isinstance(v, Column) else F.lit(v)).cast(types[c])
            for c, v in set_values.items()}
    for gi, pv_t in enumerate(sorted(groups)):
        keys = groups[pv_t]
        scan = read(keys)
        names = [c for c in scan.columns if c not in ("_fp", "_pos")]
        yield (gi, pv_t, matched_rows(spark, matched, keys, scan),
               {n: sets.get(n, F.col(n)) for n in names})
