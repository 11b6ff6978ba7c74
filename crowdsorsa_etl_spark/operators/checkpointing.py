"""The engine's one materialization point.

Every lineage cut in the package goes through ``materialize``, and the
rule is the session's, not the call site's: with no checkpoint dir set on
the SparkContext it is ``localCheckpoint`` (blocks on executor block
managers: the cheap cut, but an executor loss loses its blocks and fails
the job, because localCheckpoint severs the lineage needed to rebuild
them); with ``spark.sparkContext.setCheckpointDir(path)`` set (an
HDFS/object-store path on a cluster) it is a reliable ``checkpoint`` whose
files survive executor loss, so an iterative operator that loses an
executor at round k recomputes from the round-(k-1) files instead of
killing the run. Loss tolerance is therefore a deployment setting, the
checkpoint path, and no operator takes a flag for it.

Eager vs lazy (r17, measured): ``localCheckpoint(eager=False)`` removes
the barrier job + full block read-back, and the block manager's
per-block get-or-compute lock keeps results identical when several
stages race for the blocks. But a same-session A/B across 13 headline
queries showed lazy SLOWER at 11 of the multi-reference sites (+0.2 to
+0.9 s — the first consumer is typically a broadcast-exchange build,
whose block-locked materialization serializes against the other probe
stages), and faster only where the first consumer is a driver-side
collect that owns the whole job (global_rank's offsets collect, the
minhash signature pin). Default stays EAGER for multi-reference pins;
use lazy only where the first consumer is a full-parallelism collect.
Never make pagerank's or the other iterative operators' per-round cuts
lazy: their loops have no per-iteration action, so lazy checkpoints
there would never fire and the final job would re-run the whole
iteration lineage.

A reliable checkpoint is always eager: ``checkpoint(eager=False)``
writes its files from a second evaluation of the input after the first
action (1000 UDF rows counted 2000 calls, against 1000 for local-eager,
local-lazy and reliable-eager), so ``eager=False`` only applies to the
local path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and cut its lineage: ``localCheckpoint(eager)``
    without a session checkpoint dir, eager ``checkpoint()`` with one."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=True)
