from gh_crawler_spark.operators.dedup import PartitionedBloom  # noqa: F401
from gh_crawler_spark.operators.scheduling import rank_fetch_batch  # noqa: F401
from gh_crawler_spark.operators.politeness import (  # noqa: F401
    robots_allowed_udf,
    apply_circuit_breaker,
    backoff_next_fetch_ts,
)
