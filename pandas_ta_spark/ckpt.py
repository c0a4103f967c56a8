"""Lineage-truncating materialization with a cluster-safe upgrade path.

``localCheckpoint`` stores non-replicated executor-local blocks: on a
real cluster an executor loss makes the data unrecomputable (lineage is
gone too). That is acceptable in the single-JVM gate/bench (executor ==
driver, so losing it kills the job anyway) but not for the 100 TB
deployment. ``materialize`` therefore upgrades to a RELIABLE checkpoint
(HDFS/object-store files, survives executor loss) whenever the session
has a checkpoint directory configured — the standard cluster setup —
and falls back to eager localCheckpoint otherwise.

Call sites: the gate's shared bars derivation (sources/bars.py), the
verified near-dup pair set and the CC label-propagation rounds
(ext/dedup.py), the vector relation and IVF/PQ index artifacts
(ext/similarity.py), the n-gram novelty bigram counts (ext/text.py),
and the streaming corpus indexes (streaming/corpus.py).

Cleanup: reliable checkpoint files are NOT removed automatically —
``spark.cleaner.referenceTracking.cleanCheckpoints`` defaults to false,
and iterative callers (the CC loop checkpoints every round; the gate
runs ~185 queries) would accumulate files without bound on a long-lived
session. Cluster setup that configures a checkpoint dir MUST also set
``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (or clean the
directory between pipeline runs); localCheckpoint blocks are cleaned by
the ContextCleaner on GC and need no such setting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Execute ``df`` now and return a lineage-free DataFrame backed by
    the materialized blocks (reliable if a checkpoint dir is set)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
