from fuzzycat_spark.streaming.assignments import (  # noqa: F401
    read_assignments,
    update_assignments,
)
from fuzzycat_spark.streaming.dedup_stream import (  # noqa: F401
    incremental_dedup_batch,
)
