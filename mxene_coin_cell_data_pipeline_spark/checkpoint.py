"""Lineage truncation for the iterative families and the feature
table: local by default, RELIABLE when configured (optimization r12,
VERDICT r11 item 7).

The iterative operators (near-dup closure rounds, g01-g04 graph
rounds, the p06/p07 survivor materialization) and the per-cycle
feature table (``operators.features.full_feature_pipeline``, computed
once and read by the summary, report and QC) truncate their
lineage with ``localCheckpoint`` — the right local default: it bounds
the per-round Catalyst/codegen blowup (measured 35s of recompiles on
the lazy form) at the cost of storing the truncated RDD on executor
LOCAL storage only. At 100 TB that trade flips: executor-local blocks
are non-reliable, so ONE lost executor makes the truncated lineage
unrecoverable and the whole job must restart — production runs on a
real cluster should truncate through a reliable (HDFS / object-store)
checkpoint directory instead.

``durable_checkpoint`` is the single switch: with
``$SPARK_GRAFT_CHECKPOINT_DIR`` (or the ``spark.graft.checkpointDir``
session conf) set to a reliable path, every call becomes a reliable
``DataFrame.checkpoint`` into that directory; unset, it is exactly the
``localCheckpoint`` the local bench measures. Semantics are identical
either way — both materialize the same rows and truncate the same
lineage; only the storage's failure domain changes. A checkpoint dir
set on the SparkContext earlier is replaced when it is not the
configured one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def checkpoint_dir(df: DataFrame) -> str | None:
    """The configured reliable checkpoint directory, if any.

    The session conf ``spark.graft.checkpointDir`` wins over the
    ``SPARK_GRAFT_CHECKPOINT_DIR`` environment variable; empty strings
    mean unset.
    """
    env = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR") or None
    try:
        return df.sparkSession.conf.get("spark.graft.checkpointDir", env) or None
    except Exception:
        return env


def durable_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``checkpoint`` when a
    checkpoint dir is configured (see module docstring), else
    ``localCheckpoint``. Both forms honor ``eager``."""
    ckdir = checkpoint_dir(df)
    if ckdir:
        sc = df.sparkSession.sparkContext
        if not _checkpoints_into(sc, ckdir):
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def release_checkpoint(df: DataFrame) -> None:
    """Free the rows a checkpoint stored for ``df`` once nothing reads
    them: a local checkpoint's blocks are unpersisted, a reliable
    checkpoint's files deleted. ``df`` must be the checkpoint itself
    (a ``LogicalRDD`` plan)."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    stored = rdd.getCheckpointFile()
    if not stored.isDefined():
        rdd.unpersist(False)
        return
    sc = df.sparkSession.sparkContext
    path = sc._jvm.org.apache.hadoop.fs.Path(stored.get())
    path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)


def _checkpoints_into(sc, ckdir: str) -> bool:
    """Whether ``sc`` already writes reliable checkpoints into ``ckdir``.

    Spark checkpoints into a UUID subdirectory of the directory it was
    given, so the configured dir is compared, fully qualified, with the
    parent of ``sc.getCheckpointDir()``. A dir set earlier to somewhere
    else does not count: the caller resets it.
    """
    current = sc.getCheckpointDir()
    if current is None:
        return False
    Path = sc._jvm.org.apache.hadoop.fs.Path
    want = Path(ckdir)
    want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
    return Path(current).getParent().equals(want)
