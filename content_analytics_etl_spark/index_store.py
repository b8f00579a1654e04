"""Derived on-disk layouts: one write-once rule, and the persisted indexes.

The engine keeps a few layouts derived from each source snapshot: the
scan-parallel copy of a single-file source (``sources.readers``), the
date-partitioned events, the warehouse round-trip tables, the daily MV
snapshot, and the bucketed index and join tables (``persisted_index``).
Every one follows the same rule:

- it is the directory ``{logical}_{scope}_{content}{suffix}`` under the
  session's warehouse (``warehouse_root``). ``scope`` is a short hash of
  the source location (a corpus directory or a source file); ``content``
  is the source-content key (``source_fingerprint``; for an index, that
  key plus the algorithm version, ``index_version``); the optional
  ``suffix`` names a physical variant of the same content, such as a
  scan copy's split width ``_w{ways}``;
- it is published once (``materialize_once``): written into a
  pid-suffixed ``.tmp-`` directory and renamed into place, so readers
  see a complete layout or none. When a concurrent writer wins the
  rename, its layout is used;
- publishing it prunes the stale layouts: those with the same
  ``logical`` and ``scope`` but a different ``content``. A different
  suffix is not stale (a concurrent session may be reading its own
  width), a ``.tmp-`` directory is not (a concurrent writer owns it),
  and layouts of other scopes are not (corpora at different locations
  coexist).

Deleting a layout's directory makes its next use rebuild it.

A persisted index is such a layout holding a bucketed parquet table,
named ``idx_{logical}_...`` and registered in the session catalog under
its directory name. The session catalog is in-memory, so a later session
re-registers the snapshot it finds on disk instead of rebuilding it.
Bucketing lets a join on the bucket key read co-located buckets on both
sides with no exchange (the clustered near-dup self-join on ``cid``,
``join_bucketed`` on the order key). The write repartitions by the
bucket key first, so each bucket is one file.

First-touch wall-seconds of every index go into ``cache.BUILD_SECONDS``
so ``bench.py`` reports producer costs; an index served from a snapshot
already on disk is also recorded in ``PERSISTED_FROM_DISK``, so a
read-back is never mistaken for a build.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .cache import _LOCK, BUILD_SECONDS

__all__ = [
    "warehouse_root",
    "source_fingerprint",
    "layout_path",
    "materialize_once",
    "persisted_index",
    "index_version",
    "PERSISTED_FROM_DISK",
]

# logical index names served from a snapshot already on disk this
# session (i.e. whose BUILD_SECONDS entry is a read-back, not a build)
PERSISTED_FROM_DISK: set[str] = set()


def warehouse_root(spark: SparkSession) -> str:
    """Local filesystem path of the session's Spark SQL warehouse."""
    uri = spark.conf.get("spark.sql.warehouse.dir")
    if uri.startswith("file:"):
        uri = "/" + uri[len("file:"):].lstrip("/")
    return uri


def source_fingerprint(sf_dir: str, *tables: str) -> str:
    """Content key of the named source tables: md5 over each file's
    (relative path, size, mtime_ns), so data regenerated at the same
    ``sf_dir`` gets a new key."""
    h = hashlib.md5(sf_dir.encode())
    for table in tables:
        path = os.path.join(sf_dir, f"{table}.parquet")
        files = (
            sorted(
                os.path.join(dp, fn)
                for dp, _, fns in os.walk(path)
                for fn in fns
            )
            if os.path.isdir(path)
            else [path]
        )
        for p in files:
            st = os.stat(p)
            rel = os.path.relpath(p, sf_dir)
            h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:12]


def _prefix(logical: str, source: str) -> str:
    return f"{logical}_{hashlib.md5(source.encode()).hexdigest()[:6]}_"


def _stale(name: str, prefix: str, content: str) -> bool:
    rest = name[len(prefix):]
    return (
        name.startswith(prefix)
        and ".tmp-" not in name
        and rest != content
        and not rest.startswith(content + "_")
    )


def layout_path(
    spark: SparkSession, logical: str, source: str, content: str, suffix: str = ""
) -> str:
    """Directory of a derived layout (module docstring)."""
    return os.path.join(
        warehouse_root(spark), f"{_prefix(logical, source)}{content}{suffix}"
    )


def materialize_once(
    spark: SparkSession,
    logical: str,
    source: str,
    content: str,
    write: Callable[[str], None],
    suffix: str = "",
) -> str:
    """Publish a derived layout once and return its directory.

    ``write(tmp)`` writes the layout into ``tmp``; it runs only when the
    layout has no ``_SUCCESS`` marker yet. Publishing prunes the stale
    layouts of the same ``logical`` and ``source`` (module docstring)."""
    path = layout_path(spark, logical, source, content, suffix)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    write(tmp)
    try:
        os.rename(tmp, path)
    except OSError:  # a concurrent writer won the rename: use theirs
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            raise  # the rename failed for a real reason (perms, EXDEV)
    root, prefix = os.path.dirname(path), _prefix(logical, source)
    for d in os.listdir(root):
        if _stale(d, prefix, content):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return path


def index_version(*deps) -> str:
    """8-hex version of an index algorithm: md5 over the source of its
    dependency callables and the repr of its knob constants. Callers
    list every function and constant whose change alters the index
    content, so a new algorithm never reads an old snapshot."""
    h = hashlib.md5()
    for d in deps:
        h.update(
            inspect.getsource(d).encode() if callable(d) else repr(d).encode()
        )
        h.update(b"\x00")
    return h.hexdigest()[:8]


def persisted_index(
    spark: SparkSession,
    logical: str,
    sf_dir: str,
    fingerprint: str,
    version: str,
    build: Callable[[], DataFrame],
    *,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 32,
    sort_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """The bucketed table of ``build()`` for this corpus snapshot and
    algorithm version: the layout ``idx_{logical}`` scoped to ``sf_dir``
    with content ``{fingerprint}_{version}``, built on first use and
    registered in the session catalog."""
    content = f"{fingerprint}_{version}"
    path = layout_path(spark, f"idx_{logical}", sf_dir, content)
    name = os.path.basename(path)
    with _LOCK:
        if spark.catalog.tableExists(name):
            return spark.table(name)
        t0 = time.time()
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            PERSISTED_FROM_DISK.add(logical)
        else:
            staging = f"{name}_tmp{os.getpid()}"

            def write(tmp: str) -> None:
                writer = (
                    build()
                    .repartition(n_buckets, *bucket_cols)
                    .write.format("parquet")
                    .bucketBy(n_buckets, *bucket_cols)
                )
                if sort_cols:
                    writer = writer.sortBy(*sort_cols)
                # an external table: dropping it keeps the files
                writer.mode("overwrite").option("path", tmp).saveAsTable(staging)
                spark.sql(f"DROP TABLE {staging}")

            materialize_once(spark, f"idx_{logical}", sf_dir, content, write)
            prefix = _prefix(f"idx_{logical}", sf_dir)
            for tbl in spark.catalog.listTables():
                if _stale(tbl.name, prefix, content):
                    spark.sql(f"DROP TABLE IF EXISTS {tbl.name}")
        _register_external(spark, name, path, bucket_cols, n_buckets, sort_cols)
        BUILD_SECONDS[logical] = round(time.time() - t0, 3)
    return spark.table(name)


def _register_external(
    spark: SparkSession,
    name: str,
    path: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int,
    sort_cols: tuple[str, ...] | None,
) -> None:
    """CREATE an external bucketed parquet table over a published
    snapshot. The bucket spec is the one the writer declared: both come
    from the same ``persisted_index`` arguments."""
    schema = spark.read.parquet(path).schema
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    sort_sql = (
        f"SORTED BY ({', '.join(sort_cols)}) " if sort_cols else ""
    )
    spark.sql(
        f"CREATE TABLE {name} ({cols}) USING PARQUET "
        f"CLUSTERED BY ({', '.join(bucket_cols)}) {sort_sql}"
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )
