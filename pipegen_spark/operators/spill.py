"""The one way an operator materialises an intermediate.

`spill_to_parquet(df, label)` writes `df` to parquet in one job and
returns a frame that scans those files under the written schema (no
inference job): later actions read the files instead of re-running the
upstream plan, and no rows are pinned in executor memory.

Every spill has an owner that deletes it. `spill_scope()` owns the
spills made while it is open, from any thread, and deletes its
directory when the block exits, also when it raises; frames read from
it must not be used after that. Scopes nest, and the innermost open one
owns a spill. A spill made outside any scope goes to one per-session
directory, deleted at interpreter exit.

A scope's directory is made on its first spill, under `spill_root`: the
SparkContext checkpoint dir when one is set (any Hadoop URI, deleted
through the Hadoop FileSystem); else, on a `local[...]` master, the
first `spark.local.dir`, else TMPDIR. Any other master raises, since its
executors would write part files to disks the driver cannot read.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession


def spill_root(master: str, checkpoint_dir: str | None, local_dir: str) -> str:
    """The directory that scope directories go under."""
    if checkpoint_dir:
        return checkpoint_dir
    if master.startswith("local"):
        first = local_dir.split(",")[0]
        return first if os.path.isdir(first) else tempfile.gettempdir()
    raise ValueError(
        f"spill_to_parquet on master {master!r} needs a directory shared by "
        "the driver and every executor: call "
        "spark.sparkContext.setCheckpointDir(<hdfs/s3/... URI>) first"
    )


class _Scope:
    """One directory of spills: made on the first spill, deleted by close()."""

    def __init__(self, reap_at_exit: bool = False) -> None:
        self._lock = threading.Lock()
        self._dir: str | None = None
        self._fs: SparkSession | None = None  # set when under a checkpoint dir
        self._reap_at_exit = reap_at_exit

    def new_path(self, spark: SparkSession, label: str) -> str:
        with self._lock:
            if self._dir is None:
                sc = spark.sparkContext
                ckpt = sc.getCheckpointDir()
                local = spark.conf.get("spark.local.dir", "") or ""
                root = spill_root(sc.master, ckpt, local)
                if ckpt:
                    name = f"pipegen-spill-{uuid.uuid4().hex}"
                    self._dir, self._fs = f"{root.rstrip('/')}/{name}", spark
                else:
                    self._dir = tempfile.mkdtemp(prefix="pipegen-spill-", dir=root)
                if self._reap_at_exit:
                    # Registered after the Py4J gateway's own exit hook,
                    # so it runs first (atexit is LIFO).
                    atexit.register(self._close_quietly)
            return f"{self._dir}/{label}-{uuid.uuid4().hex}"

    def close(self) -> None:
        with self._lock:
            d, spark, self._dir, self._fs = self._dir, self._fs, None, None
        if d is not None and spark is None:
            shutil.rmtree(d, ignore_errors=True)
        elif d is not None:
            p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(d)
            conf = spark.sparkContext._jsc.hadoopConfiguration()
            p.getFileSystem(conf).delete(p, True)

    def _close_quietly(self) -> None:
        with contextlib.suppress(Exception):
            self.close()


_SESSION = _Scope(reap_at_exit=True)
_OPEN: list[_Scope] = []


@contextlib.contextmanager
def spill_scope() -> Iterator[None]:
    """Own every spill made while the block runs; delete them on exit."""
    scope = _Scope()
    _OPEN.append(scope)
    try:
        yield
    finally:
        _OPEN.remove(scope)
        scope.close()


def spill_to_parquet(df: DataFrame, label: str = "stage") -> DataFrame:
    """Write `df` to parquet in the current scope and re-read it."""
    scope = _OPEN[-1] if _OPEN else _SESSION
    path = scope.new_path(df.sparkSession, label)
    df.write.parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)
