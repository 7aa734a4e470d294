from aws_serverless_elt_pipeline_enterprise_spark.operators.dedup import (  # noqa: F401
    dedup_events,
    dedup_events_stream,
)
from aws_serverless_elt_pipeline_enterprise_spark.operators.lww import (  # noqa: F401
    lww_reduce,
)
from aws_serverless_elt_pipeline_enterprise_spark.operators.normalize import (  # noqa: F401
    split_quarantine,
)
