"""Hadoop filesystem helpers: path resolution, JSON sidecars, and the
crash-safe directory replacement shared by every compactor.

Every filesystem touch goes through ``fs_path`` so it works on any URI
scheme (file://, hdfs://, s3a://) — pathlib and shutil only ever see the
driver's local disk, and ``Path()`` collapses the double slash in scheme
URIs. ``read_json``/``write_json`` are the one sidecar codec.

``staged_replace`` is one implementation of the staged-write +
two-rename swap with the refuse-on-leftovers posture
(``store._swap_shards`` pioneered it; the streaming compactors call
this instead of carrying copies — r06 review): write the replacement tree to ``<path>__compact``, move the
live tree to ``<path>__old``, move the staged tree into place, delete
the old tree. A crash at any point leaves either the old or the staged
tree intact and recoverable, and a leftover ``__compact``/``__old``
directory makes the next attempt REFUSE until an operator resolves it
— never silently delete what might be the only copy.
"""

from __future__ import annotations

import json
from collections.abc import Callable


def fs_path(spark, path: str):
    """Hadoop ``FileSystem`` and ``Path`` for ``path``, any URI scheme."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def read_json(spark, path: str):
    """Parse the JSON file at ``path`` (a sidecar)."""
    fs, p = fs_path(spark, path)
    stream = fs.open(p)
    try:
        raw = bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(raw.decode())


def write_json(spark, path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path``, replacing any existing file."""
    fs, p = fs_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(obj).encode()))
    finally:
        out.close()


def staged_replace(spark, path: str, write_staged: Callable[[str], None]) -> None:
    """Replace the directory at ``path`` with whatever ``write_staged``
    writes to the staging path it is handed. Refuses on leftovers from
    an interrupted earlier attempt; rolls back if the final swap-in
    fails."""
    fs, live = fs_path(spark, path)
    _, staged = fs_path(spark, path + "__compact")
    _, old = fs_path(spark, path + "__old")
    if fs.exists(staged) or fs.exists(old):
        raise IOError(
            f"refusing to compact: leftover {path}__compact/__old from an "
            f"interrupted earlier compact — inspect, restore or delete it, "
            f"then retry"
        )
    write_staged(path + "__compact")
    if not fs.rename(live, old):
        raise IOError(f"staged_replace: could not move {path} aside")
    if not fs.rename(staged, live):
        if not fs.rename(old, live):
            raise IOError(
                f"staged_replace: swap failed AND rollback failed; old "
                f"data preserved at {path}__old"
            )
        raise IOError(
            f"staged_replace: could not move staged data into place at "
            f"{path}; old data restored"
        )
    fs.delete(old, True)


def read_if_exists(spark, path: str):
    """Read a parquet directory, or None if it doesn't exist yet — the
    shared existence probe every incremental maintainer needs before
    its first batch (one implementation instead of per-module copies —
    r06 review)."""
    fs, p = fs_path(spark, path)
    if not fs.exists(p):
        return None
    return spark.read.parquet(path)
