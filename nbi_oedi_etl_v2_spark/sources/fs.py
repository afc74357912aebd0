"""Filesystem helpers for job planning & the bypass sink.

Every helper routes through the JVM Hadoop FileSystem of the running
SparkSession, so county discovery, the metadata byte-copy, run-file
accounting and Parquet footer reads speak any Hadoop FS URI (``file:``,
``s3a:``, ``hdfs:``, ``abfss:``) exactly like ``spark.read`` /
``df.write`` do — the reference is S3-native (indexer.py:5,
worker.py:34). Without a session they raise ``RuntimeError``.

Scale note: ``list_files_recursive`` crosses the Py4J bridge once per
file, so the ETL keeps it off the input side: the job's input listing
is the file index Spark builds for the read itself (one
``DataFrame.inputFiles()`` call), and only the job's few output files
are counted here. Input-side listing at lake scale belongs to Spark's
parallel partition discovery (or an object inventory), not to any
single-process walker — including the reference's own paginator.
"""

from __future__ import annotations

from urllib.parse import unquote

from pyspark.sql import SparkSession


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


def _hadoop(path: str):
    """(jvm, FileSystem, Path) for ``path`` via the running session.

    The active session is thread-local in the JVM, so worker threads
    (run_etl's per-job chain threads) often see None — fall back to the
    process-wide instantiated session before giving up.
    """
    spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if spark is None:
        raise RuntimeError(f"no SparkSession available to access {path!r}")
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, jpath


def list_dirs(path: str) -> list[str]:
    """Names of the immediate child directories of ``path`` (county
    discovery — the fixed S3 wildcard walk, indexer.py:150-177)."""
    _jvm, fs, jpath = _hadoop(path)
    if not fs.exists(jpath):
        return []
    return sorted(
        st.getPath().getName() for st in fs.listStatus(jpath) if st.isDirectory()
    )


def is_data_file(path: str, suffix: str = ".parquet") -> bool:
    """Whether ``path`` names a data file: it ends with ``suffix`` and
    its name is not a hidden/commit file (``_SUCCESS``, dotfiles),
    which Spark's own listing skips too."""
    name = path.rstrip("/").rsplit("/", 1)[-1]
    return name.endswith(suffix) and not name.startswith(("_", "."))


def list_files_recursive(path: str, suffix: str = ".parquet") -> list[str]:
    """All data files under ``path`` (see ``is_data_file``) — the
    analogue of the reference's paginated list_objects_v2
    (indexer.py:8-45)."""
    _jvm, fs, jpath = _hadoop(path)
    if not fs.exists(jpath):
        return []
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = it.next().getPath()
        if is_data_file(p.getName(), suffix):
            out.append(normalize_uri(p.toString()))
    return sorted(out)


def parquet_row_count(path: str) -> int:
    """Row count the Parquet footer of ``path`` declares, read on the
    driver through parquet-hadoop's ``ParquetFileReader`` (no Spark
    job). Raises ``Py4JJavaError`` when the footer cannot be read: a
    truncated, zero-byte or missing file."""
    jvm, fs, jpath = _hadoop(path)
    hadoop = jvm.org.apache.parquet.hadoop
    reader = hadoop.ParquetFileReader.open(
        hadoop.util.HadoopInputFile.fromPath(jpath, fs.getConf())
    )
    try:
        return int(reader.getRecordCount())
    finally:
        reader.close()


def copy_file(src: str, dest: str) -> None:
    """Byte-copy (metadata bypass parity — worker.py:171-173,191-192:
    the reference uploads metadata bytes unchanged). Hadoop
    ``FileUtil.copy`` preserves bytes across any src/dest FS pair and
    creates parent directories."""
    jvm, sfs, spath = _hadoop(src)
    _jvm, dfs, dpath = _hadoop(dest)
    jvm.org.apache.hadoop.fs.FileUtil.copy(
        sfs, spath, dfs, dpath, False, True, dfs.getConf()
    )


def exists(path: str) -> bool:
    _jvm, fs, jpath = _hadoop(path)
    return fs.exists(jpath)

