"""Task modes — the unit pipeline (dm/worker/subtask.go:63-94).

Mode `full`: batch snapshot load (dump+load units collapse to one
`spark.read` -> `LakeTable.overwrite`, SURVEY §2.1).
Mode `incremental`: stream the change feed from a location.
Mode `all`: snapshot, then stream from the snapshot watermark —
`createRealUnits` chaining [Dumpling, Loader, Syncer].
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from dm_spark.config import TaskConfig
from dm_spark.lake import LakeTable
from dm_spark.operators import ApplyPipeline
from dm_spark.streaming import CdcStreamDriver


@dataclass
class Task:
    spark: SparkSession
    config: TaskConfig
    lake: LakeTable
    feed_dir: str
    checkpoint_dir: str
    # whether the last run_incremental/run_all drained the feed it found
    # to the end (False: a stop, a pause outlasting the timeout, or the
    # timeout itself cut it short); None before any drain
    drained: bool | None = field(default=None, init=False)

    def run_full(self, snapshot: DataFrame) -> int:
        """Full snapshot load (loader/loader.go:566 analog)."""
        return self.lake.overwrite(snapshot)

    def _driver(self, location_floor: tuple[int, int] | None = None, **kw) -> CdcStreamDriver:
        """The task's streaming driver over its lake; `location_floor`
        filters obsolete events (table-checkpoint gating,
        syncer/syncer.go:1983-1989) — needed when the snapshot already
        covers a prefix of the feed."""
        return CdcStreamDriver(
            self.spark, self.feed_dir, self.checkpoint_dir,
            ApplyPipeline(self.config, location_floor=location_floor),
            {self.config.target_table: self.lake}, **kw,
        )

    def run_incremental(self, from_location: tuple[int, int] | None = None,
                        max_files_per_trigger: int | None = 4) -> list[dict]:
        """Drain the relay feed, in-band DDL included; events at or
        before `from_location` are obsolete."""
        drv = self._driver(from_location, max_files_per_trigger=max_files_per_trigger)
        stats = drv.run_available_now()
        self.drained = drv.drained
        return stats

    def run_all(self, snapshot: DataFrame, snapshot_location: tuple[int, int]) -> list[dict]:
        """Snapshot then catch-up stream (mode `all`)."""
        self.run_full(snapshot)
        return self.run_incremental(from_location=snapshot_location)

    def run_tail(
        self,
        trigger_sec: float = 1.0,
        timeout_sec: int = 0,
        stop_when=None,
        max_files_per_trigger: int | None = 4,
        compact_every: int | None = None,
    ) -> list[dict]:
        """Live-tail mode (the production shape: the syncer's
        forever-tailing loop, syncer/syncer.go:1280): keep consuming new
        relay files on a processing-time trigger until killed
        (timeout_sec=0 → no deadline) or `stop_when(driver)` fires;
        resumes from checkpoint on restart. `compact_every=N` folds a
        merge-on-read lake's delta files back into base every N
        batches; without it a MoR tail's delta files pile up without
        bound."""
        drv = self._driver(max_files_per_trigger=max_files_per_trigger, compact_every=compact_every)
        return drv.run_continuous(
            trigger_sec=trigger_sec,
            timeout_sec=timeout_sec if timeout_sec > 0 else 2**31,
            stop_when=stop_when,
        )
