"""Sources & sinks (SURVEY.md §2.1) — every scan/sink shape the
reference uses, normalized onto Spark's DataFrame reader/writer with
explicit schemas.

Reference shapes covered (behavior studied, no code taken):
- text-file scan  → ``read_text``    (sc.textFile, ReduceByKey/.../FollowersCount.scala:25)
- CSV scan        → ``read_csv``     (SingleSourceShortestPathDataSet/.../FollowerCount.scala:29;
                     schemaless there — we always require a schema)
- local collection→ ``from_rows``    (sc.parallelize / toDF,
                     PageRankRDD/.../FollowerCount.scala:54-55)
- text/CSV sink w/ separator → ``write_csv`` (saveAsTextFile + the MR
                     textoutputformat separator, RepJoin/.../CountFollowers.java:130)
- parquet is the engine's canonical storage (columnar, splittable,
  predicate/projection pushdown — the 100 TB default).

Also here: ``write_bucketed`` + ``read_table`` — bucketed tables make
repeated equi-joins/aggregations on the bucket key exchange-free, the
engine's durable answer to the reference's HashPartitioner co-partitioning
(PageRankRDD/.../FollowerCount.scala:53-55).
"""

from __future__ import annotations

import functools
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented scan: one ``value: string`` column per line."""
    return spark.read.text(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    sep: str = ",",
    header: bool = False,
) -> DataFrame:
    """CSV scan with a REQUIRED schema — schema-on-read inference does a
    full extra pass and guesses types; at 100 TB both are unacceptable."""
    return spark.read.csv(path, schema=schema, sep=sep, header=header)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    return spark.read.json(path, schema=schema)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The package's one parquet reader: ``spark.read.parquet(path)``
    with the schema resolved on the driver first.

    Without a schema Spark infers one by launching a one-task job that
    reads a single footer (``ParquetUtils.inferSchema``), 0.07–0.11 s
    warm on every load (PERFORMANCE.md lesson 31). Here the driver
    reads the same footer itself — the first data file by path, as
    Spark picks it — and converts it with Spark's own
    ``readSchemaFromFooter``, so the schema is the one Spark would
    infer under the session's confs at call time, and the read runs no
    job. Layouts where Spark's inference does more than read one data
    footer take the plain read unchanged: see :func:`_footer_schema`."""
    schema = _footer_schema(spark, path)
    if schema is None:
        return spark.read.parquet(path)
    jdf = (
        spark._jsparkSession.read()
        .schema(schema)
        .parquet(spark._jvm.PythonUtils.toSeq([path]))
    )
    return DataFrame(jdf, spark)


#: Hadoop glob metacharacters (``SparkHadoopUtil.isGlobPath``).
_GLOB_CHARS = frozenset("{}[]*?\\")


@functools.lru_cache(maxsize=4)
def _footer_jvm(jvm):
    """The JVM classes the footer read calls, looked up once per gateway:
    every package step of ``jvm.org.apache....`` is a py4j round trip,
    and the lookups cost more than the listing and footer read
    together (12 of 18 ms per read, 4-vCPU host)."""
    parquet = jvm.org.apache.parquet
    fmt = jvm.org.apache.spark.sql.execution.datasources.parquet
    return SimpleNamespace(
        Path=jvm.org.apache.hadoop.fs.Path,
        read_footer=parquet.hadoop.ParquetFileReader.readFooter,
        SKIP_ROW_GROUPS=(
            parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
        ),
        Footer=parquet.hadoop.Footer,
        read_schema=fmt.ParquetFileFormat.readSchemaFromFooter,
        Converter=fmt.ParquetToSparkSchemaConverter,
    )


def _footer_schema(spark: SparkSession, path: str):
    """The JVM ``StructType`` Spark would infer for ``path``, read from
    one footer on the driver; ``None`` where Spark's inference does
    more than that, and the caller reads without a schema:

    - a glob, a ``spark.sql.parquet.mergeSchema=true`` (or
      ``ignoreVariantAnnotation=true``) session, any
      visible sub-directory (hive partition discovery), a ``_metadata``
      or ``_common_metadata`` summary file (inference prefers it), or a
      ``_spark_metadata`` stream-sink log (Spark then reads only the
      committed files);
    - no data file, or any JVM error on the way (missing path, corrupt
      footer): Spark then raises its own error.

    Listing mirrors ``InMemoryFileIndex``: names starting with ``.``,
    or with ``_`` and holding no ``=``, and ``._COPYING_`` files are
    skipped; of the rest Spark sorts by path and reads the first."""
    from py4j.protocol import Py4JError
    from pyspark.errors.exceptions.captured import CapturedException

    if _GLOB_CHARS & set(path):
        return None
    try:
        j = _footer_jvm(spark._jvm)
        state = spark._jsparkSession.sessionState()
        sql_conf = state.conf()
        # inference passes the constructor default for the variant flag,
        # the session-conf converter below the session's value
        if (
            sql_conf.isParquetSchemaMergingEnabled()
            or sql_conf.parquetIgnoreVariantAnnotation()
        ):
            return None
        conf = state.newHadoopConf()
        jpath = j.Path(path)
        first_name, first = None, None
        for st in jpath.getFileSystem(conf).listStatus(jpath):
            p = st.getPath()
            name = p.getName()
            if name == "_spark_metadata" or name.startswith(
                ("_metadata", "_common_metadata")
            ):
                return None
            if (
                name.startswith(".")
                or (name.startswith("_") and "=" not in name)
                or name.endswith("._COPYING_")
            ):
                continue
            if st.isDirectory():
                return None
            if first is None or name < first_name:
                first_name, first = name, p
        if first is None:
            return None
        footer = j.read_footer(conf, first, j.SKIP_ROW_GROUPS)
        return j.read_schema(j.Footer(first, footer), j.Converter(sql_conf))
    except (Py4JError, CapturedException):
        return None


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other splittable columnar format with
    predicate/projection pushdown; first-class in Spark, so supporting
    it is the same reader surface as parquet."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def from_rows(
    spark: SparkSession, rows: list, schema: T.StructType | str
) -> DataFrame:
    """Driver collection → distributed dataset (small seeds/dimensions
    only; anything data-sized belongs in storage, not the driver).

    Rows are tuples in schema order. They travel as one Arrow table, so
    the plan is a ``LocalTableScan`` that runs no job and starts no
    Python worker; ``createDataFrame`` over a Python list plans a
    ``Scan ExistingRDD`` whose first action pays the Python-worker
    start (2.2–3.0 s for a 2-row frame on a fresh 4-core session,
    0.8 s through Arrow). A pyarrow table takes the Arrow path
    regardless of ``spark.sql.execution.arrow.pyspark.enabled``."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    return from_columns(spark, cols, schema)


def from_columns(
    spark: SparkSession, cols: list, schema: T.StructType
) -> DataFrame:
    """:func:`from_rows` for column data (sequences or numpy arrays, one
    per field in schema order): the same ``LocalTableScan``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


#: Row bound of :func:`to_driver`: loop state this small finishes on the
#: driver instead of in per-iteration Spark jobs. Read at call time. Not
#: a speed crossover (every driver path measured faster up to 8× this,
#: PERFORMANCE.md lesson 30): it bounds the rows the driver holds and the
#: rows an input above it moves through the read.
DRIVER_STATE_CAP = 100_000


def to_driver(df: DataFrame, cap: int | None = None):
    """The whole of ``df`` as a pyarrow table when it has at most ``cap``
    rows (default :data:`DRIVER_STATE_CAP`), else ``None``.

    One bounded read: ``limit(cap + 1)`` collected through Arrow. The
    Arrow collect executes the ``CollectLimit`` plan as one job — every
    partition stops after cap + 1 rows and a single-partition exchange
    inside the same job gathers them — so the driver never holds more
    than cap + 1 rows, and the exchange moves at most partitions ×
    (cap + 1). (``collect``/``take`` on the same plan scan 1 → 4 → …
    partitions in escalating jobs; an explicit ``repartition(1)`` under
    the limit costs two more jobs under AQE.) A cap of 0 still reads, so
    an empty frame comes back as an empty table; a negative cap turns
    the driver path off and reads nothing."""
    cap = DRIVER_STATE_CAP if cap is None else cap
    if cap < 0:
        return None
    table = df.limit(cap + 1).toArrow()
    return table if table.num_rows <= cap else None


def parse_edge_lines(lines: DataFrame, sep: str = ",") -> DataFrame:
    """The reference's universal input parse: ``follower,followee`` text
    lines → typed (src, dst) columns
    (ReduceByKey/.../FollowersCount.scala:26-27 split-by-comma).
    Malformed rows (missing field, non-numeric) are dropped — the
    reference's row-level sanity predicates
    (K-means/.../CountFollowers.java:38; RepJoin:49)."""
    parts = F.split(F.col("value"), sep)
    # try_cast, not cast: ANSI mode (Spark 4 default) throws on malformed
    # input; the reference's behavior is drop-bad-rows
    return (
        lines.select(
            parts.getItem(0).try_cast("long").alias("src"),
            F.try_element_at(parts, F.lit(2)).try_cast("long").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


def write_csv(
    df: DataFrame, path: str, sep: str = ",", mode: str = "overwrite"
) -> None:
    """CSV sink with separator — the reference's text sinks
    (saveAsTextFile; MR separator option)."""
    df.write.mode(mode).option("sep", sep).csv(path)


def write_text_tuples(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Byte-parity text sink for the reference's RDD tuple lines:
    ``saveAsTextFile`` on an ``RDD[(k, v)]`` writes Scala's
    ``Tuple2.toString`` — ``(k,v)``, parenthesized, comma-joined, no
    space (ReduceByKey/.../FollowersCount.scala:29). Every column of the
    row folds into one such line, so a migrated job's text output is
    byte-identical (golden-file asserted in tests)."""
    cols = [F.col(c).cast("string") for c in df.columns]
    line = F.concat(F.lit("("), F.concat_ws(",", *cols), F.lit(")"))
    df.select(line.alias("value")).write.mode(mode).text(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist bucketed by join/group key: downstream equi-joins and
    aggregations on ``bucket_col`` between tables bucketed the same way
    run WITHOUT a shuffle (asserted in tests). This is the durable form
    of the reference's in-memory HashPartitioner co-partitioning."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned parquet layout — the 100 TB organizing
    principle for low-cardinality filter columns: a reader filtering on
    a partition column prunes whole directories BEFORE listing files
    (PartitionFilters in the scan, asserted in tests), so a day/segment
    query touches 1/N of the data without an index."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_zordered(
    df: DataFrame,
    path: str,
    zval_col: str,
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Z-order ingest layout: range-partition on the Morton key (see
    queries.zorder_values for the key derivation) and sort within each
    partition, so every output file covers a contiguous z-range — a
    bounded min-max rectangle in BOTH original dimensions. Parquet
    file/row-group skipping then prunes predicates on EITHER column;
    a single-column sort prunes only its own column. ``n_files``
    approximates target file count (range partitioning is balanced by
    sampling, the standard total-order write)."""
    (
        df.repartitionByRange(n_files, F.col(zval_col))
        .sortWithinPartitions(zval_col)
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files: int,
    partition_by: tuple[str, ...] = (),
    target_bytes: int | None = None,
) -> None:
    """Small-files compaction — the operational fix for streaming/
    incremental sinks that accrete thousands of tiny files (each file
    costs a task + open + footer parse at read time; at 100 TB the
    file COUNT, not the bytes, becomes the scheduler bottleneck).
    Rewrites the dataset into ``target_files`` files, then publishes by
    directory rename. SINGLE-WRITER / NO-CONCURRENT-READER semantics:
    readers never see a HALF-WRITTEN dataset (the new files are staged
    under ``.__compact_new``), but between the two renames below the
    live path briefly does not exist, so a concurrent read can fail
    with path-not-found — schedule compaction in the maintenance window,
    or use a table format with a manifest/metadata pointer (the real
    100 TB answer) for lock-free swaps. Crash recovery: if the process
    dies between the renames, the data is intact under
    ``<path>.__compact_old`` — restore with a single rename back.

    ``partition_by`` preserves a hive-partitioned layout through the
    rewrite (VERDICT r11 Next #6 — the ANN index's per-cell dirs ARE
    its partition pruning, so compaction must never flatten them):
    rows are shuffled onto their partition values so each partition
    directory comes out as ONE file (``target_files`` then bounds the
    total only indirectly and is ignored per-partition).

    ``target_bytes`` (r14, VERDICT r13 Next #7) replaces the
    one-file-per-partition rule with a SIZE target: each partition
    directory is rewritten as ~⌈partition_bytes / target_bytes⌉ files.
    At real scale one-file-per-cell fails twice on a hot cell — one
    write TASK rewrites the whole cell (stragglers) and one read task
    scans it back (no intra-cell parallelism). Two standard Spark
    mechanisms compose to fix both: a per-partition SALT sized from
    the partition's on-disk row share gives ⌈bytes/target⌉ parallel
    writers per hot cell, and ``maxRecordsPerFile`` (rows-per-file
    derived from the dataset's measured bytes/row) is the hard
    per-file size bound even where salt groups hash-collide into one
    task. The salt is a deterministic xxhash64 of the non-partition
    columns — content-derived, no RNG — and never lands in the data
    (dropped after the shuffle); reads stay bit-identical to
    pre-compaction (pytest-pinned), only the file layout changes.
    Unpartitioned datasets get the same treatment with a global file
    count. ``target_bytes=None`` keeps the r13 behavior exactly."""
    import math

    from pyspark.sql import functions as F

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    new_path = f"{path}.__compact_new"
    old_path = f"{path}.__compact_old"
    new_p = jvm.org.apache.hadoop.fs.Path(new_path)
    old_p = jvm.org.apache.hadoop.fs.Path(old_path)
    fs.delete(new_p, True)
    df = read_parquet(spark, path)
    records_per_file = None
    if target_bytes is not None:
        # measured bytes/row from the CURRENT layout: total file bytes
        # (one driver-side FS listing — metadata, bounded by file
        # count) over the footer-served row count
        total_bytes = 0
        stack = [jpath]
        while stack:
            for st in fs.listStatus(stack.pop()):
                name = st.getPath().getName()
                if name.startswith(("_", ".")):
                    continue
                if st.isDirectory():
                    stack.append(st.getPath())
                else:
                    total_bytes += st.getLen()
        total_rows = df.count()
        if total_rows > 0 and total_bytes > 0:
            records_per_file = max(
                1, int(target_bytes * total_rows // total_bytes)
            )
    if partition_by:
        writer_df = df.repartition(*[F.col(c) for c in partition_by])
        if records_per_file is not None:
            nonpart = [c for c in df.columns if c not in partition_by]
            nout = (
                df.groupBy(*partition_by)
                .agg(F.count(F.lit(1)).alias("_rows"))
                .withColumn(
                    "_nout",
                    F.greatest(
                        F.lit(1),
                        F.ceil(F.col("_rows") / F.lit(records_per_file)),
                    ).cast("int"),
                )
                .drop("_rows")
            )
            writer_df = (
                df.join(F.broadcast(nout), list(partition_by))
                .withColumn(
                    "_salt", F.pmod(F.xxhash64(*nonpart), F.col("_nout"))
                )
                .drop("_nout")
                .repartition(
                    *[F.col(c) for c in (*partition_by, "_salt")]
                )
                .drop("_salt")
            )
        writer = writer_df.write
        if records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", records_per_file)
        writer.partitionBy(*partition_by).parquet(new_path)
    else:
        if records_per_file is not None:
            total_rows = df.count()
            n_files = max(1, math.ceil(total_rows / records_per_file))
            (
                df.repartition(n_files)
                .write.option("maxRecordsPerFile", records_per_file)
                .parquet(new_path)
            )
        else:
            df.coalesce(target_files).write.parquet(new_path)
    fs.delete(old_p, True)
    fs.rename(jpath, old_p)
    fs.rename(new_p, jpath)
    fs.delete(old_p, True)
