"""The two places the engine steps outside whole-DataFrame planning:
:func:`materialize` (store an intermediate that several consumers
read) and :func:`single_eval` (evaluate a heavy expression once).
Both rest on Catalyst internals, so each lives here once and every
site calls through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Return ``df`` cut from its lineage and stored once: every
    consumer reads the stored blocks instead of re-running the plan.

    One policy for every site:

    - ``localCheckpoint``, not ``persist``: a CacheManager entry lives
      until an explicit ``unpersist``, which a site cannot place when
      its consumers run lazily after it returns, so a long session
      piled up cached intermediates in storage memory. Checkpoint
      blocks are reclaimed by the ContextCleaner once the consuming
      plan is garbage-collected.
    - ``DISK_ONLY``: MEMORY_AND_DISK blocks squatted in storage memory
      until the ContextCleaner's next GC cycle, and wall time swung
      with heap state (connected components 2-8 s, the training
      corpus's scored frame 8-16 s at sf0.1, on identical code). Slim
      blocks read back from local disk in milliseconds, so the cost
      follows the data, and at scale they never compete with shuffle
      memory.
    - Not fault-tolerant, by design: a lost executor cannot recompute
      its blocks, and the action that reads them fails. Every
      materialized frame is a derived intermediate, rebuilt by
      running the query again.

    ``eager=False`` defers storing the blocks to the first action that
    reads the result; under AQE, shuffle stages inside ``df`` still run
    at the call, because planning the checkpoint executes them.
    ``eager=True`` stores the blocks now, for a site that must cut the
    lineage before it returns (a write over the source's own path) or
    that counts the stored frame right away.
    """
    return df.localCheckpoint(
        eager=eager, storageLevel=StorageLevel.DISK_ONLY
    )


def single_eval(sql: str) -> str:
    """Wrap the Spark SQL expression ``sql`` in a value-identity
    NONDETERMINISTIC no-op, so a heavy expression is evaluated once.

    A Filter on a column that a Project defines is pushed below that
    Project with the column's defining expression substituted in: the
    expression then sits in BOTH the Filter and the Project, and every
    surviving row evaluates it twice (whole-stage codegen shares no
    subexpressions across operators). Wrapping the filter CONDITION
    does not help — even a nondeterministic Filter may pass a 1-1
    deterministic Project. The push requires every field of the
    Project to be deterministic, so the column itself is projected
    through this wrapper. CollapseProject still inlines the expression
    into the wrapper when it is used once, leaving ONE Project that
    computes it once; the filter then tests the projected column.

    ``IF(spark_partition_id() >= 0, c, NULL)``: partition ids are
    non-negative, so the true branch always returns ``c`` unchanged,
    for any type. Both If and spark_partition_id are codegen-able, so
    the wrapped chain stays in whole-stage codegen, and the compare
    costs one int test per row and survives the optimizer. Two forms
    were measured on docs_clean_pipeline and rejected:

    - ``shuffle(array(c))[1]`` (the singleton permutation) is
      CodegenFallback and dragged the whole chain into interpreted
      evaluation, costing more than the double evaluation it removed
      (1.46 → 1.75 s).
    - ``IF(rand(seed) < 2.0, c, NULL)`` is folded away by Spark 4's
      rand-comparison simplification, so the duplication came
      straight back; it would also put a seed in every plan dump.
    """
    return f"IF(spark_partition_id() >= 0, {sql}, NULL)"
