"""Small-state (JSON checkpoint) IO for any Hadoop-visible filesystem.

TierPipeline keeps tiny driver-side control state (a checkpoint JSON) next
to its parquet data. On a real cluster the pipeline base dir is a DFS path
(``hdfs://``, ``s3a://``, shared ``file://``); plain ``open``/``os.replace``
would silently write to the driver's LOCAL disk and a restarted driver on
another node would never see the state. This router dispatches through
Spark's JVM Hadoop FileSystem whenever the path carries a scheme (or a
session is supplied), and keeps a python-only fallback for scheme-less
paths so the classes stay usable without a session.

Commit protocol: write ``<path>.tmp``, delete the target, rename the tmp
over it. The local branch (``os.replace``) is atomic. The Hadoop branch is
NOT fully atomic: a driver crash between the delete and the rename leaves
only ``<path>.tmp`` behind. ``read_json_state`` closes that window on the
read side -- if the target is missing but a COMPLETE (JSON-parseable) tmp
survives, it is returned as the state (read-only: the next commit rewrites
both files); a torn/partial tmp is ignored. State readers (the TierPipeline
checkpoint) go through ``read_json_state``, so a crashed commit recovers
instead of silently restarting from empty state.
Intentional resets go through ``delete_state`` (target + tmp) so a stale
tmp cannot resurrect deliberately-deleted state.
"""

from __future__ import annotations

import json
import os

__all__ = ["StateIO"]


class StateIO:
    """Routes tiny-file IO to the Hadoop FileSystem API or the local OS.

    ``spark`` is optional; when omitted, the active session is looked up
    lazily at call time (so a long-lived pipeline object survives session
    restarts). Scheme-less paths without any session fall back to plain
    local IO.
    """

    def __init__(self, spark=None):
        self._spark = spark

    # -- routing -------------------------------------------------------------
    def _session(self):
        if self._spark is not None:
            return self._spark
        from pyspark.sql import SparkSession

        return SparkSession.getActiveSession()

    def _hadoop(self, path: str):
        spark = self._session()
        if spark is None:
            raise RuntimeError(
                f"path {path!r} has a filesystem scheme but no SparkSession "
                "is active to reach the Hadoop FileSystem API"
            )
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return jvm, fs, jpath

    def _use_hadoop(self, path: str) -> bool:
        return "://" in path

    # -- primitives ----------------------------------------------------------
    def exists(self, path: str) -> bool:
        if self._use_hadoop(path):
            _jvm, fs, p = self._hadoop(path)
            return bool(fs.exists(p))
        return os.path.exists(path)

    def read_text(self, path: str) -> str:
        if self._use_hadoop(path):
            jvm, fs, p = self._hadoop(path)
            stream = fs.open(p)
            try:
                return jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            finally:
                stream.close()
        with open(path) as fh:
            return fh.read()

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = path + ".tmp"
        if self._use_hadoop(path):
            jvm, fs, p = self._hadoop(path)
            tp = jvm.org.apache.hadoop.fs.Path(tmp)
            stream = fs.create(tp, True)
            try:
                stream.write(bytearray(text.encode("utf-8")))
            finally:
                stream.close()
            if fs.exists(p):
                fs.delete(p, False)
            if not fs.rename(tp, p):
                raise IOError(f"atomic rename {tmp!r} -> {path!r} failed")
        else:
            with open(tmp, "w") as fh:
                fh.write(text)
            os.replace(tmp, path)

    # -- JSON wrappers ---------------------------------------------------------
    def read_json(self, path: str):
        return json.loads(self.read_text(path))

    def write_json_atomic(self, path: str, obj) -> None:
        self.write_text_atomic(path, json.dumps(obj, indent=1, sort_keys=True))

    def read_json_state(self, path: str):
        """Read committed JSON state, or ``None`` if there is none.

        Crash recovery (see module docstring): if ``path`` is missing but a
        complete ``<path>.tmp`` parses as JSON, the tmp is the state a
        crashed commit failed to rename -- return it WITHOUT writing (the
        next commit overwrites both; ADVICE r3: a read path that writes
        would require write access for readers and could re-materialize
        state). A tmp that fails to parse is a torn write and is ignored.
        Intentional resets must go through :meth:`delete_state` so a stale
        tmp cannot outlive them.
        """
        if self.exists(path):
            return self.read_json(path)
        tmp = path + ".tmp"
        if not self.exists(tmp):
            return None
        try:
            return json.loads(self.read_text(tmp))
        except ValueError:
            return None

    def delete_state(self, path: str) -> None:
        """Remove committed state AND any leftover ``<path>.tmp`` -- the
        reset primitive. Deleting only the target would let a stale
        crashed-commit tmp resurrect the state on the next read."""
        for p in (path, path + ".tmp"):
            if self._use_hadoop(p):
                _jvm, fs, jp = self._hadoop(p)
                if fs.exists(jp):
                    fs.delete(jp, False)
            elif os.path.exists(p):
                os.remove(p)
