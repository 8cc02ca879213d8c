"""Commit-protocol filesystem primitives over the Hadoop FileSystem API.

Every versioned store in this engine is a chain of ``<root>/<prefix><n>/``
parquet snapshots read with ``read_latest`` and advanced with ``publish``:

* the streaming packing high-water mark (``b=<batch_id>``);
* the streaming CDC state (``v=<batch_id>``);
* the streaming rollup partials (``v=<batch_id>``), which the CUSUM
  monitor reads too;
* the ANN index (``idx_v<n>``);
* the connected-component labels (``lab_v<n>``).

The flat, append-only dedup signature store is not versioned: its batch
pins the part files it read with ``parquet_files`` before it appends.

The commit rule, which no caller restates, gives three guarantees on any
Hadoop filesystem (HDFS / S3A / local):

* **Completed vs crashed writes are distinguishable.** A Spark parquet
  job publishes the job-level ``_SUCCESS`` marker only after every part
  file is committed (FileOutputCommitter renames task output out of
  ``_temporary`` first), so "directory exists" is NOT "write finished" —
  ``committed()`` is.
* **State advances by adding a new version, never by rewriting the only
  copy in place.** ``mode("overwrite")`` deletes the target before the
  new write commits; a crash in between destroys the previous state.
  ``publish`` overwrites only its OWN version's directory (so a retry
  clears a crashed attempt's debris at that version), and readers take
  the highest committed version (``committed_versions()``), so debris is
  invisible.
* **Superseded versions are pruned only after the successor commits**
  (``prune_versions_below``); a crash mid-prune leaves extra old
  versions that the max-committed read rule ignores.

Driver-local ``os.path`` / ``glob`` would silently break the moment the
store moves off the driver's disk — everything here goes through the
JVM's ``org.apache.hadoop.fs.FileSystem`` resolved from the path's own
scheme, and no other module touches that API.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SUCCESS = "_SUCCESS"


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path, jvm) for a path, resolved by its scheme."""
    sc = spark.sparkContext
    jvm = sc._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()), hpath, jvm


def exists(spark: SparkSession, path: str) -> bool:
    fs, hpath, _ = _fs(spark, path)
    return fs.exists(hpath)


def committed(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds a COMPLETED Spark write (``_SUCCESS``
    present) — the debris of a crashed attempt returns False."""
    fs, _, jvm = _fs(spark, path)
    return fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/{SUCCESS}"))


def delete(spark: SparkSession, path: str) -> None:
    """Recursive delete; missing path is a no-op."""
    fs, hpath, _ = _fs(spark, path)
    fs.delete(hpath, True)


def committed_versions(
    spark: SparkSession, root: str, prefix: str
) -> list[int]:
    """Sorted integer versions of the committed ``<root>/<prefix><n>/``
    snapshots. Uncommitted (in-flight or crashed) versions are excluded;
    a missing root is an empty store."""
    fs, hroot, _ = _fs(spark, root)
    if not fs.exists(hroot):
        return []
    out = []
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if st.isFile() and (name.endswith(".parquet") or name == SUCCESS):
            # a pre-versioning (flat) store: part files at the root. Reading
            # it as "no committed versions" would silently discard the
            # accumulated state and restart batch dedup from zero — fail
            # loudly and demand a one-time migration instead.
            raise ValueError(
                f"{root} holds a flat (unversioned) store; migrate it to "
                f"a '{prefix}<n>/' snapshot before reading"
            )
        if not (st.isDirectory() and name.startswith(prefix)):
            continue
        try:
            v = int(name[len(prefix):])
        except ValueError:
            continue
        if committed(spark, f"{root}/{name}"):
            out.append(v)
    return sorted(out)


def prune_versions_below(
    spark: SparkSession, root: str, prefix: str, keep_from: int
) -> None:
    """Delete committed versions `` < keep_from`` — call only AFTER the
    successor version is committed, so a crash mid-prune can never leave
    the store without a readable snapshot."""
    for v in committed_versions(spark, root, prefix):
        if v < keep_from:
            delete(spark, f"{root}/{prefix}{v}")


def read_latest(spark: SparkSession, root: str, prefix: str):
    """(frame, version) of the highest committed ``<root>/<prefix><n>/``
    snapshot; ``(None, -1)`` for an empty store."""
    vs = committed_versions(spark, root, prefix)
    if not vs:
        return None, -1
    return spark.read.parquet(f"{root}/{prefix}{vs[-1]}"), vs[-1]


def publish(df: DataFrame, root: str, prefix: str, version: int) -> None:
    """Commit ``df`` as snapshot ``version``, then prune every version
    below it."""
    df.write.mode("overwrite").parquet(f"{root}/{prefix}{version}")
    prune_versions_below(df.sparkSession, root, prefix, version)


def parquet_files(spark: SparkSession, root: str) -> list[str]:
    """Sorted paths of the ``*.parquet`` part files directly under
    ``root``; [] for a missing or empty directory."""
    fs, hroot, _ = _fs(spark, root)
    if not fs.exists(hroot):
        return []
    return sorted(
        st.getPath().toString()
        for st in fs.listStatus(hroot)
        if st.getPath().getName().endswith(".parquet")
    )
