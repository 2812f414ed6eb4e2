from dm_spark.streaming.driver import CdcStreamDriver
from dm_spark.streaming.replicate import (
    bootstrap_replica,
    replicate_lake_poll,
    sync_replica_schema,
)

__all__ = [
    "CdcStreamDriver",
    "bootstrap_replica",
    "replicate_lake_poll",
    "sync_replica_schema",
]
