"""Drain mode under the control file: `run_available_now` is the run
loop of the live tail under an availableNow trigger, so `main.py ctl`
stop and pause act on a running drain exactly as on a tail (dmctl
stop-task / pause-task act on the syncer's one `Run` loop whatever
its lag, syncer/syncer.go:1280), and the trailing side-channel DDL
flush runs only after a full drain."""

from __future__ import annotations

import threading
import time

import main as mainmod
from dm_spark import feed as feedmod
from dm_spark.config import RouteRule, TaskConfig
from dm_spark.lake import LakeTable
from dm_spark.operators import ApplyPipeline
from dm_spark.plans import DdlEvent, ReplayRunner
from dm_spark.sources.relay import write_feed_chunks
from dm_spark.streaming import CdcStreamDriver
from dm_spark.streaming.driver import stream_batches

from tests.test_pipeline_e2e import KEY, SCHEMA, assert_tables_equal, duck_replay, spark_final

CFG = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])


def _drain(spark, sf_dir, tmp_path, **kw):
    """A drain over 6 relay files, one file per micro-batch."""
    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=4)
    if kw.get("ddl_events"):
        kw["runner"] = ReplayRunner(pipeline=ApplyPipeline(CFG), lake=lake)
    drv = _relaunch(spark, tmp_path, lake, **kw)
    write_feed_chunks(feedmod.change_feed(spark, sf_dir), drv.feed_dir, n_chunks=6)
    return drv, lake


def _relaunch(spark, tmp_path, lake, runner=None, ddl_events=None):
    pipeline = runner.pipeline if runner is not None else ApplyPipeline(CFG)
    return CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp"), pipeline,
        {"transcripts": lake}, max_files_per_trigger=1, runner=runner,
        ddl_events=ddl_events,
    )


def _ctl_after_first_batch(drv, cmd):
    """Issue `main.py ctl <cp> <cmd>` once, at the end of batch 0, and
    hold that batch for four poll ticks so the run loop sees the
    command while the query is still running."""
    apply, fired = drv._apply, []

    def wrapped(batch_df, batch_id):
        apply(batch_df, batch_id)
        if not fired:
            fired.append(batch_id)
            assert mainmod.ctl([drv.checkpoint_dir, cmd]) == 0
            time.sleep(1.0)

    drv._apply = wrapped


def _batches(drv):
    return {s["batch_id"] for s in drv.batch_stats}


def test_stop_ends_a_running_drain(spark, sf_dir, tmp_path):
    """`ctl stop` after batch 0 ends the drain before batch 1; the stop
    stays in force for a relaunch until `ctl resume`, and the resumed
    drain finishes with the exact oracle state."""
    drv, lake = _drain(spark, sf_dir, tmp_path)
    _ctl_after_first_batch(drv, "stop")
    drv.run_available_now()
    assert _batches(drv) == {0}
    assert not drv.paused

    drv2 = _relaunch(spark, tmp_path, lake)
    assert drv2.run_available_now() == []  # stop: true is still in control.json
    assert mainmod.ctl([drv.checkpoint_dir, "resume"]) == 0
    drv3 = _relaunch(spark, tmp_path, lake)
    drv3.run_available_now()
    assert _batches(drv3) >= {1, 2, 3, 4, 5}
    assert_tables_equal(spark_final(lake), duck_replay(sf_dir))


def test_pause_holds_a_running_drain_until_resume(spark, sf_dir, tmp_path):
    """`ctl pause` after batch 0 stops the drain's query: no batch runs
    while paused, and `ctl resume` lets the same drain finish with the
    exact oracle state."""
    drv, lake = _drain(spark, sf_dir, tmp_path)
    _ctl_after_first_batch(drv, "pause")
    err: list = []

    def run():
        try:
            drv.run_available_now(timeout_sec=300)
        except Exception as e:  # surfaced to the main thread
            err.append(e)

    t = threading.Thread(target=run)
    t.start()
    try:
        deadline = time.time() + 120
        while not getattr(drv, "paused", False) and t.is_alive() and time.time() < deadline:
            time.sleep(0.1)
        assert getattr(drv, "paused", False), f"drain never paused (errors: {err})"
        n = len(drv.batch_stats)
        time.sleep(1.5)
        assert len(drv.batch_stats) == n and _batches(drv) == {0}
        assert mainmod.ctl([drv.checkpoint_dir, "resume"]) == 0
        t.join(240)
        assert not t.is_alive(), "drain did not finish after resume"
    finally:
        if t.is_alive():
            mainmod.ctl([drv.checkpoint_dir, "stop"])
            t.join(120)
    assert not err, err
    assert not drv.paused
    assert _batches(drv) >= {1, 2, 3, 4, 5}
    assert_tables_equal(spark_final(lake), duck_replay(sf_dir))


def test_drain_cut_short_keeps_side_channel_ddl_queued(spark, sf_dir, tmp_path):
    """A side-channel ALTER at 0:998 is due only in the last batch. A
    drain stopped after batch 0 must leave it queued and unapplied:
    applying it as a trailing DDL would run it ahead of the DMLs at
    0:170-0:997 (flush-before-DDL). The resumed drain applies it in
    its batch."""
    ddl = DdlEvent("add_column", "shard_0.transcripts_0", 0, 998,
                   column="rating", new_type="int")
    drv, lake = _drain(spark, sf_dir, tmp_path, ddl_events=[ddl])
    _ctl_after_first_batch(drv, "stop")
    stats = drv.run_available_now()
    assert _batches(drv) == {0}
    assert not any(s.get("trailing") for s in stats)
    assert drv.ddl_events == [ddl]
    assert "rating" not in lake.read().columns

    assert mainmod.ctl([drv.checkpoint_dir, "resume"]) == 0
    del drv._apply
    drv.run_available_now()
    assert drv.ddl_events == []
    assert [d["column"] for d in lake.applied_ddl_log()] == ["rating"]
    assert_tables_equal(spark_final(lake), duck_replay(sf_dir))


def test_drain_launched_with_stop_runs_no_batch(spark, sf_dir, tmp_path):
    """A stop left in control.json by an earlier run holds a drain
    launched against it: no query starts, no batch runs."""
    drv, lake = _drain(spark, sf_dir, tmp_path)
    assert mainmod.ctl([drv.checkpoint_dir, "stop"]) == 0
    assert drv.run_available_now() == []
    assert stream_batches(drv.checkpoint_dir) == (-1, -1)
    assert not lake.global_checkpoint()


def test_cli_drain_reports_whether_it_finished(spark, sf_dir, tmp_path, capsys):
    """`main.py` mode incremental says whether its drain finished: after
    `ctl stop` the drain ends with the feed unapplied, its JSON line
    says `"drained": false` and it exits 1; after `ctl resume` the full
    drain says true and exits 0."""
    import json

    paths = {k: str(tmp_path / k) for k in ("lake", "feed", "checkpoint")}
    spec = {
        "mode": "incremental",
        "paths": paths,
        "schema": [{"name": n, "type": t} for n, t in SCHEMA],
        "task": {
            "key": KEY,
            "n_buckets": 4,
            "routes": [{"pattern": "shard_*.transcripts_*", "target": "transcripts"}],
            # the CLI shares this test session; keep its shuffle width
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        },
    }
    spec_path = tmp_path / "task.json"
    spec_path.write_text(json.dumps(spec))
    write_feed_chunks(feedmod.change_feed(spark, sf_dir), paths["feed"], n_chunks=2)

    def run() -> tuple[int, bool]:
        capsys.readouterr()
        rc = mainmod.main(["main.py", str(spec_path)])
        lines = [json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")]
        return rc, next(ln["drained"] for ln in lines if ln.get("mode") == "incremental")

    assert mainmod.ctl([paths["checkpoint"], "stop"]) == 0
    assert run() == (1, False)
    assert mainmod.ctl([paths["checkpoint"], "resume"]) == 0
    assert run() == (0, True)
    assert_tables_equal(spark_final(LakeTable(spark, paths["lake"])), duck_replay(sf_dir))
