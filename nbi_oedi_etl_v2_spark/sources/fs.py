"""Filesystem helpers for job planning & the bypass sink.

Every helper routes through the JVM Hadoop FileSystem of the running
SparkSession, so county discovery, the metadata byte-copy, run-file
accounting and Parquet footer reads speak any Hadoop FS URI (``file:``,
``s3a:``, ``hdfs:``, ``abfss:``) exactly like ``spark.read`` /
``df.write`` do — the reference is S3-native (indexer.py:5,
worker.py:34). Without a session they raise ``RuntimeError``.

Scale note: ``list_files_recursive`` crosses the Py4J bridge once per
file, so the ETL keeps it off the input side: the job's input listing
is the file index Spark builds for the read itself
(``DataFrame.inputFiles()``: no Spark job, but still two py4j round
trips per file, as pyspark converts the returned array one element at
a time), only the job's few output files are counted here, and the
read's schema takes the first readable file of each input partition
through the lazy ``iter_files``. Input-side listing at lake scale belongs to Spark's
parallel partition discovery (or an object inventory), not to any
single-process walker — including the reference's own paginator.
"""

from __future__ import annotations

from urllib.parse import unquote

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession

_PARQUET = "org.apache.spark.sql.execution.datasources.parquet."


def normalize_uri(path: str) -> str:
    """Canonical comparable form of a file URI or plain path: local
    ``file:`` URIs lose their scheme, %-escapes decode. Lets listings
    (Hadoop FS, ``DataFrame.inputFiles()``) and ``_metadata.file_path``
    (URI-encoded) be set-compared for the listed-vs-read discrepancy
    accounting."""
    p = unquote(path)
    if p.startswith("file:"):
        return "/" + p[len("file:"):].lstrip("/")
    return p


def _session(path: str) -> SparkSession:
    """The running session, to access ``path`` through.

    The active session is thread-local in the JVM, so worker threads
    (run_etl's chain threads) often see None — fall back to the
    process-wide instantiated session before giving up.
    """
    spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if spark is None:
        raise RuntimeError(f"no SparkSession available to access {path!r}")
    return spark


def _jclass(spark: SparkSession, fqn: str) -> JavaClass:
    """The JVM class ``fqn``. ``spark._jvm.org.apache…`` costs one py4j
    round trip per dotted name on every use; this handle costs none."""
    return JavaClass(fqn, spark._sc._gateway._gateway_client)


def _hadoop(path: str):
    """(session, FileSystem, Path) for ``path`` via the running session."""
    spark = _session(path)
    jpath = _jclass(spark, "org.apache.hadoop.fs.Path")(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return spark, fs, jpath


def list_dirs(path: str) -> list[str]:
    """Names of the immediate child directories of ``path`` (county
    discovery — the fixed S3 wildcard walk, indexer.py:150-177)."""
    _spark, fs, jpath = _hadoop(path)
    if not fs.exists(jpath):
        return []
    return sorted(
        st.getPath().getName() for st in fs.listStatus(jpath) if st.isDirectory()
    )


def is_data_file(path: str) -> bool:
    """Whether ``path`` names a data file: it ends with ``.parquet`` and
    its name is not a hidden/commit file (``_SUCCESS``, dotfiles),
    which Spark's own listing skips too."""
    name = path.rstrip("/").rsplit("/", 1)[-1]
    return name.endswith(".parquet") and not name.startswith(("_", "."))


def iter_files(path: str):
    """The data files under ``path`` (see ``is_data_file``), in the file
    system's listing order (lexicographic on S3 and HDFS), listed as
    they are consumed: a caller that stops at the first file lists one
    page of an object store, not the whole prefix."""
    _spark, fs, jpath = _hadoop(path)
    if not fs.exists(jpath):
        return
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = it.next().getPath()
        if is_data_file(p.getName()):
            yield normalize_uri(p.toString())


def list_files_recursive(path: str) -> list[str]:
    """All data files under ``path``, sorted — the analogue of the
    reference's paginated list_objects_v2 (indexer.py:8-45)."""
    return sorted(iter_files(path))


def _footer(path: str, row_groups: bool):
    """(session, Path, ``ParquetMetadata``): the footer of the Parquet
    file ``path``, read on the driver (no Spark job) through Spark's own
    ``ParquetFooterReader``, with its row-group metadata only when
    ``row_groups``. Raises ``Py4JJavaError`` when the footer cannot be
    read: a truncated, zero-byte or missing file."""
    spark, fs, jpath = _hadoop(path)
    input_file = _jclass(spark, "org.apache.parquet.hadoop.util.HadoopInputFile")
    converter = _jclass(spark, "org.apache.parquet.format.converter.ParquetMetadataConverter")
    footer = _jclass(spark, _PARQUET + "ParquetFooterReader").readFooter(
        input_file.fromPath(jpath, fs.getConf()),
        converter.NO_FILTER if row_groups else converter.SKIP_ROW_GROUPS,
    )
    return spark, jpath, footer


def parquet_row_count(path: str) -> int:
    """Row count the Parquet footer of ``path`` declares (the sum over
    its row groups). Raises ``Py4JJavaError`` when the footer cannot be
    read."""
    _spark, _jpath, footer = _footer(path, row_groups=True)
    # indexed: py4j ends a Java iterator through a thrown exception,
    # which costs more than the whole footer read
    blocks = footer.getBlocks()
    return sum(int(blocks.get(i).getRowCount()) for i in range(blocks.size()))


def parquet_schema(path: str):
    """The Spark schema (a JVM ``StructType``) of the Parquet file
    ``path``, from its footer.

    The footer goes through Spark's own ``readSchemaFromFooter`` with a
    converter built from the session's SQL conf — what schema inference
    does per file — so the schema Spark wrote into the footer wins, and
    ``nanosAsLong`` / ``inferTimestampNTZ`` apply as they do under
    inference. Raises ``Py4JJavaError`` when the footer cannot be
    read."""
    spark, jpath, footer = _footer(path, row_groups=False)
    converter = _jclass(spark, _PARQUET + "ParquetToSparkSchemaConverter")(
        spark._jsparkSession.sessionState().conf()
    )
    return _jclass(spark, _PARQUET + "ParquetFileFormat").readSchemaFromFooter(
        _jclass(spark, "org.apache.parquet.hadoop.Footer")(jpath, footer), converter
    )


def copy_file(src: str, dest: str) -> None:
    """Byte-copy (metadata bypass parity — worker.py:171-173,191-192:
    the reference uploads metadata bytes unchanged). Hadoop
    ``FileUtil.copy`` preserves bytes across any src/dest FS pair and
    creates parent directories."""
    spark, sfs, spath = _hadoop(src)
    _spark, dfs, dpath = _hadoop(dest)
    _jclass(spark, "org.apache.hadoop.fs.FileUtil").copy(
        sfs, spath, dfs, dpath, False, True, dfs.getConf()
    )


def exists(path: str) -> bool:
    _spark, fs, jpath = _hadoop(path)
    return fs.exists(jpath)

