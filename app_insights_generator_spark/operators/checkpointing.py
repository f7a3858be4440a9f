"""The one lineage-pinning helper for the whole package.

Every driver-loop fixpoint (connected components, the graph algorithms,
k-means) truncates lineage once per round so the plan stays flat, and
every fan-out operator or query pins shared intermediates so Catalyst
does not recompute the subtree per consuming branch. All of them call
:func:`pin`; nothing else in the package calls ``localCheckpoint`` or
``checkpoint`` (tests/test_pin_policy.py guards this).

Volatile or reliable is a deployment choice, and Spark already owns the
switch: the session's checkpoint directory, set at launch with
``spark.checkpoint.dir`` or later with ``sc.setCheckpointDir``.

- No checkpoint dir (the default): ``localCheckpoint(eager=True)``. It is
  the fastest, but the pinned blocks live in executor storage with
  lineage truncated, so on a cluster an executor loss (dynamic-allocation
  decommission included) makes them unrecoverable and fails the job.
- Checkpoint dir set (HDFS/S3/DBFS on a cluster):
  ``checkpoint(eager=True)`` writes the pinned rows to that dir, so they
  survive executor loss. It costs one extra job per pin for the write.

Output is identical either way (tests run the operators in both modes).
Reliable checkpoint files accumulate under the dir; on long-lived
clusters enable ``spark.cleaner.referenceTracking.cleanCheckpoints=true``
or sweep the dir between jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and truncate its lineage: a reliable checkpoint
    when the session has a checkpoint dir, a local checkpoint otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)
