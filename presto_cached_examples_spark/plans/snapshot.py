"""Snapshot-publish table manager — the double-buffer atomic swap (C3).

Reference ground truth: the writer draws into the hidden buffer, then
`displayBuffer` flips and the sink rebinds, so the reader only ever
scans a fully-written frame (/root/reference/src/
DoublePsramBuffer480x480.cpp:196-202; "buffers are swapped here",
:201). The single-buffer variant shows the failure mode this prevents:
readers observing in-flight writes (README.md:24-26).

Spark-native translation: DataFrames are immutable, so "the hidden
buffer" is a fully-materialized (cached + scanned) DataFrame, and the
swap is a temp-view pointer replacement. A reader that resolved the
view before the swap keeps its old plan — exactly the old buffer — and
never sees a partial write. Readers resolving after the swap see the
new snapshot. The old snapshot is unpersisted only after publish.

At 100 TB the same protocol holds with a storage-backed staging path
(write to a new directory, swap the catalog pointer): the mechanism —
materialize fully, then publish atomically, then retire the old
generation — is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class SnapshotPublisher:
    """Named, versioned snapshot publication with atomic reader-visible
    swap and deferred retirement of the previous generation."""

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = name
        self.version = 0
        self._live: DataFrame | None = None  # current published generation
        self._retired: DataFrame | None = None

    def publish(self, df: DataFrame) -> int:
        """Materialize `df` fully (the hidden-buffer draw), then swap
        the view pointer (the vsync flip). Returns the new version.

        The pointer lives in the GLOBAL temp catalog: a publish from a
        foreachBatch worker (whose micro-batch runs in a cloned
        session) must be visible to every reader session — the
        single-catalog pointer swap the 100 TB variant does against a
        metastore."""
        staged = df.cache()
        # Force full materialization BEFORE any reader can see it. One
        # action on the staged plan's own QueryExecution is enough: that
        # plan is the cache scan itself, so running it builds every
        # cached partition (and any lazy checkpoint underneath), while
        # count() would plan an extra aggregate stage on top.
        staged._jdf.queryExecution().toRdd().count()
        staged.createOrReplaceGlobalTempView(self.name)  # atomic pointer swap
        self._retired, self._live = self._live, staged
        self.version += 1
        if self._retired is not None:
            # retire the old generation; readers holding its DataFrame
            # handle can still recompute, they just lose the cache.
            self._retired.unpersist()
            self._retired = None
        return self.version

    def reader(self) -> DataFrame:
        """Resolve the current snapshot. The returned DataFrame is bound
        to this generation — later publishes do not change it (snapshot
        isolation), matching the display scanning the front buffer while
        the writer fills the back one."""
        return self.spark.table(f"global_temp.{self.name}")

    def drop(self) -> None:
        if self._live is not None:
            self._live.unpersist()
            self._live = None
        self.spark.catalog.dropGlobalTempView(self.name)
