"""The research delta, Spark-native: data-chunk compaction.

The reference (SIGMOD'25 "Data Chunk Compaction in Vectorized Execution")
keeps 2048-tuple vectors full between operators by caching undersized
chunks and re-emitting them compacted (CompactingPhysicalOperator,
src/execution/physical_operator.cpp:250-311), choosing the threshold with
a UCB1 bandit (CompactTuner, src/include/duckdb/common/negative_feedback.hpp).

Spark's execution unit is the partition, and the same computation —
"detect undersized data units, adaptively coalesce them to a learned
target before the next operator" — appears as the small-partition /
small-file problem.  ``compact()`` is the one compaction entry point,
called directly where the stream fragments.  This package has four
modules:

- __init__.py   these re-exports
- profiler.py   partition-size stats + chunk-factor metrics
                (BeeProfiler/ZebraProfiler/HashJoinProfiler analog)
- compact.py    compact()/pipeline_break()/fan_out() DataFrame operators
                (CompactingPhysicalOperator / PhysicalPipelineBreaker);
                like the reference, compact() decides on the input it
                holds: one that already fits in one wave of the
                session's task slots passes through with no Spark job,
                only wider inputs pay for the partition histogram
- tuner.py      UCB1 multi-armed bandit learning target sizes per named
                stage (CompactTuner/MultiArmedBandit); the caller closes
                the loop: suggest → compact(target_rows=) → observe
"""

from data_chunk_compaction_in_duckdb_spark.compaction.compact import (  # noqa: F401
    compact,
    fan_out,
    pipeline_break,
)
from data_chunk_compaction_in_duckdb_spark.compaction.profiler import (  # noqa: F401
    chunk_factor,
    fragmentation_report,
    partition_histogram,
    partition_row_counts,
)
from data_chunk_compaction_in_duckdb_spark.compaction.tuner import (  # noqa: F401
    CompactTuner,
    UCB1Bandit,
)
