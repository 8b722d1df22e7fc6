"""Single lineage-cut point for every operator (VERDICT r12 ask #7).

The standing optimization pattern (spark_optimization_guide §3.3/§5): a
narrow relation consumed by >=2 downstream subtrees whose own subtree holds
a shuffle or per-row-expensive work (UDF, explode) is materialized ONCE
behind a lazy checkpoint, so each consumer reads the small materialized
blocks instead of re-running the subtree.

Fault-tolerance trade-off, centralized here so it is stated once instead of
at ~40 call sites: ``localCheckpoint`` stores blocks executor-locally
WITHOUT replication. In ``local[N]`` (the bench and the tests) that is
free and safe — driver and executor share one process. On a multi-node
cluster an executor loss makes the truncated lineage unrecoverable and
fails the job instead of recomputing it. For cluster deployments set
``SPARK_GRAFT_RELIABLE_CHECKPOINT`` to a reliable (HDFS/object-store)
directory: every cut then routes through ``DataFrame.checkpoint`` against
that directory, trading one write+read of the (narrow, small) relation for
recomputability. The relations cut by this helper are by-policy much
smaller than their inputs (ids, counts, signatures), so the reliable write
is cheap relative to the subtree it replaces.

A lineage cut is also a pushdown barrier: predicates from consumers cannot
reach below it into the scan. Call sites therefore only cut relations whose
every consumer needs the full relation (the r12 decision rule).

Block lifetime (ADVICE r12): checkpoint blocks are not explicitly
unpersisted — they are released by Spark's ContextCleaner when the Python
DataFrame is garbage-collected, which is how every query-shaped operator
here behaves (the DataFrame goes out of scope when the query returns).
Long-lived sessions invoking operators repeatedly rely on that cleaner;
LEAKCHECK's repeated-invocation sweep covers it.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame

# SparkContext -> the reliable directory it was given. Keyed on the context,
# not the process: a stopped session's context takes its checkpoint dir with
# it, and a second session in the same process needs setCheckpointDir again.
_CHECKPOINT_DIRS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def lineage_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage; see module docstring for the trade-off.

    Lazy by default (nothing materializes until the first consumer runs —
    callers on never-executed declared plans pay nothing). ``eager=True``
    is for driver-coordinated iterative loops (connected components) that
    must materialize each round before deciding whether to continue.

    Use as ``df.transform(lineage_cut)`` to keep builder chains readable.
    """
    reliable_dir = os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    if reliable_dir:
        sc = df.sparkSession.sparkContext
        if _CHECKPOINT_DIRS.get(sc) != reliable_dir:
            sc.setCheckpointDir(reliable_dir)
            _CHECKPOINT_DIRS[sc] = reliable_dir
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
