from dm_spark.plans.replay import DdlEvent, ReplayRunner, location_ranges

__all__ = ["DdlEvent", "ReplayRunner", "location_ranges"]
