"""Filesystem helpers for job planning & the bypass sink.

Every helper routes through the JVM Hadoop FileSystem of the active
SparkSession when one exists, so county discovery, the metadata
byte-copy, run-file accounting and Parquet footer reads speak any
Hadoop FS URI (``file:``, ``s3a:``, ``hdfs:``, ``abfss:``) exactly like
``spark.read`` / ``df.write`` do — the reference is S3-native
(indexer.py:5, worker.py:34). Without an active session (pure-unit
tests) they fall back to local ``os`` implementations; results are
identical for local paths. The footer read has no such fallback.

Scale note: ``list_files_recursive`` crosses the Py4J bridge once per
file, so the ETL keeps it off the input side: the job's input listing
is the file index Spark builds for the read itself (one
``DataFrame.inputFiles()`` call), and only the job's few output files
are counted here. Input-side listing at lake scale belongs to Spark's
parallel partition discovery (or an object inventory), not to any
single-process walker — including the reference's own paginator.
"""

from __future__ import annotations

import os
import shutil
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


def _strip_scheme(path: str) -> str:
    return normalize_uri(path) if path.startswith("file:") else path


def _hadoop(path: str):
    """(jvm, FileSystem, Path) for ``path`` via the active session, or
    None when no session is up (local fallback).

    The active session is thread-local in the JVM, so worker threads
    (run_etl's per-job chain threads) often see None — fall back to the
    process-wide instantiated session before giving up. Silently
    falling back to ``os.*`` on an object-store URI would return empty
    listings, so a remote scheme with no session at all raises.
    """
    spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if spark is None:
        scheme = path.split("://", 1)[0] if "://" in path else ""
        if scheme not in ("", "file"):
            raise RuntimeError(
                f"no SparkSession available to access {path!r}; the os.* "
                "fallback only handles local paths"
            )
        return None
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, jpath


def list_dirs(path: str) -> list[str]:
    """Names of the immediate child directories of ``path`` (county
    discovery — the fixed S3 wildcard walk, indexer.py:150-177)."""
    h = _hadoop(path)
    if h is None:
        local = _strip_scheme(path)
        if not os.path.isdir(local):
            return []
        return sorted(
            d for d in os.listdir(local) if os.path.isdir(os.path.join(local, d))
        )
    _jvm, fs, jpath = h
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
    h = _hadoop(path)
    if h is None:
        local = _strip_scheme(path)
        out: list[str] = []
        for root, _dirs, files in os.walk(local):
            out.extend(os.path.join(root, f) for f in files if is_data_file(f, suffix))
        return sorted(out)
    _jvm, fs, jpath = h
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
    h = _hadoop(path)
    if h is None:
        raise RuntimeError(f"reading the Parquet footer of {path!r} needs a SparkSession")
    jvm, fs, jpath = h
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
    h = _hadoop(src)
    if h is None:
        s, d = _strip_scheme(src), _strip_scheme(dest)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        shutil.copyfile(s, d)
        return
    jvm, sfs, spath = h
    spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    conf = spark._jsc.hadoopConfiguration()
    dpath = jvm.org.apache.hadoop.fs.Path(dest)
    dfs = dpath.getFileSystem(conf)
    jvm.org.apache.hadoop.fs.FileUtil.copy(sfs, spath, dfs, dpath, False, True, conf)


def exists(path: str) -> bool:
    h = _hadoop(path)
    if h is None:
        return os.path.exists(_strip_scheme(path))
    _jvm, fs, jpath = h
    return fs.exists(jpath)


def rename(src: str, dest: str) -> bool:
    """Directory/file rename — the atomic-on-HDFS (cheap-on-object-
    store) primitive behind staged swaps."""
    h = _hadoop(src)
    if h is None:
        os.rename(_strip_scheme(src), _strip_scheme(dest))
        return True
    jvm, fs, spath = h
    return bool(fs.rename(spath, jvm.org.apache.hadoop.fs.Path(dest)))


def delete(path: str, recursive: bool = True) -> None:
    h = _hadoop(path)
    if h is None:
        local = _strip_scheme(path)
        if os.path.isdir(local):
            shutil.rmtree(local)
        elif os.path.exists(local):
            os.remove(local)
        return
    _jvm, fs, jpath = h
    if fs.exists(jpath):
        fs.delete(jpath, recursive)
