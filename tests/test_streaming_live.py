"""Continuous live-tail mode: a processing-time-triggered stream tails
the relay dir while a writer thread feeds relay files in — the
production shape of the reference syncer (forever-tailing loop,
syncer/syncer.go:1280), with a mid-stream stop + resume-from-checkpoint
(FlushCheckpointStage kill ladder analog)."""

from __future__ import annotations

import glob
import os
import shutil
import threading
import time

from dm_spark import feed as feedmod
from dm_spark.config import RouteRule, TaskConfig
from dm_spark.lake import LakeTable
from dm_spark.operators import ApplyPipeline
from dm_spark.sources.relay import write_feed_chunks
from dm_spark.streaming import CdcStreamDriver

from tests.test_pipeline_e2e import KEY, SCHEMA, assert_tables_equal, duck_replay, spark_final


def _stage_chunks(spark, sf_dir, stage_dir):
    feed = feedmod.change_feed(spark, sf_dir)
    return write_feed_chunks(feed, stage_dir, n_chunks=8)


def _feeder(staged, feed_dir, delay=0.4):
    """Move staged relay files into the live dir one at a time, with
    STRICTLY increasing mtimes (the upstream master writing binlog
    files). Spark's file source admits by modification time: with
    delay=0 a plain time.time() stamp lands several files in the same
    millisecond and the source groups them in arbitrary order —
    location order scrambles across micro-batches (CLAUDE.md mtime
    gotcha; it produced batch 0 = files {0,3} in the route-patch
    test)."""
    os.makedirs(feed_dir, exist_ok=True)
    base = time.time()
    for i, p in enumerate(staged):
        dst = os.path.join(feed_dir, os.path.basename(p))
        shutil.copy(p, dst + ".tmp")
        os.rename(dst + ".tmp", dst)
        t = max(time.time(), base + 0.002 * (i + 1))
        os.utime(dst, (t, t))
        time.sleep(delay)


def test_live_tail_with_concurrent_writer_and_resume(spark, sf_dir, tmp_path):
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8)
    stage = str(tmp_path / "stage")
    feed_dir = str(tmp_path / "feed")
    staged = _stage_chunks(spark, sf_dir, stage)
    assert len(staged) == 8
    half, rest = staged[:4], staged[4:]

    def applied_files(drv):
        # all currently-delivered relay files drained and committed?
        n_delivered = len(glob.glob(os.path.join(feed_dir, "relay-*.parquet")))
        n_done = len({s["batch_id"] for s in drv.batch_stats if not s["skipped"]})
        return n_delivered == len(half) and n_done >= 2

    drv = CdcStreamDriver(
        spark, feed_dir, str(tmp_path / "cp"), ApplyPipeline(cfg),
        {"transcripts": lake}, max_files_per_trigger=2,
    )
    t = threading.Thread(target=_feeder, args=(half, feed_dir))
    t.start()
    stats1 = drv.run_continuous(trigger_sec=0.5, timeout_sec=300, stop_when=applied_files)
    t.join()
    assert any(not s["skipped"] for s in stats1)
    assert any(s.get("lag_sec") is not None for s in stats1)

    # phase 2: "restart" — a new driver on the same checkpoint picks up
    # exactly where the stream stopped while the writer keeps feeding
    drv2 = CdcStreamDriver(
        spark, feed_dir, str(tmp_path / "cp"), ApplyPipeline(cfg),
        {"transcripts": lake}, max_files_per_trigger=2,
    )

    def all_applied(d):
        cp = lake.global_checkpoint()
        return bool(cp) and (cp.get("file_seq"), cp.get("pos")) >= final_loc

    feed = feedmod.change_feed(spark, sf_dir)
    mx = feed.selectExpr("max(struct(file_seq, pos)) AS m").collect()[0][0]
    final_loc = (mx["file_seq"], mx["pos"])
    t2 = threading.Thread(target=_feeder, args=(rest, feed_dir))
    t2.start()
    drv2.run_continuous(trigger_sec=0.5, timeout_sec=300, stop_when=all_applied)
    t2.join()

    assert_tables_equal(spark_final(lake), duck_replay(sf_dir))
    seen = [s["batch_id"] for s in drv.batch_stats + drv2.batch_stats if not s["skipped"]]
    assert len(seen) == len(set(seen))  # each batch applied exactly once


def test_live_mor_optimistic_ddl_kill_resume(spark, sf_dir, tmp_path):
    """Everything at once: MoR lake + optimistic shard-DDL arriving
    mid-stream + live writer thread + stop/resume from checkpoint —
    the combined production scenario."""
    from dm_spark.plans import DdlEvent, ReplayRunner

    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), SCHEMA, KEY, n_buckets=8, write_mode="mor"
    )
    feed_dir = str(tmp_path / "feed")
    stage = str(tmp_path / "stage")
    feed = feedmod.change_feed(spark, sf_dir)
    staged = _stage_chunks(spark, sf_dir, stage)
    mm = feed.selectExpr("max(struct(file_seq, pos)) AS m").collect()[0][0]
    final_loc = (mm["file_seq"], mm["pos"])
    mid = feed.approxQuantile("pos", [0.5], 0.0)[0]
    ddls = [
        DdlEvent("add_column", "shard_0.transcripts_0", 0, int(mid),
                 column="rating", new_type="int")
    ]

    def make(drained_chunks):
        runner = ReplayRunner(
            pipeline=ApplyPipeline(cfg), lake=lake,
            optimistic_group=[
                f"shard_{i}.transcripts_{j}" for i in range(4) for j in range(2)
            ],
        )
        drv = CdcStreamDriver(
            spark, feed_dir, str(tmp_path / "cp"), runner.pipeline,
            {"transcripts": lake}, max_files_per_trigger=2,
            runner=runner, ddl_events=list(ddls) if not drained_chunks else [],
        )
        return drv

    # phase 1: first half of the files arrive live; stop mid-way
    half, rest = staged[:4], staged[4:]
    t = threading.Thread(target=_feeder, args=(half, feed_dir))
    drv1 = make(False)

    def half_done(d):
        return len(glob.glob(os.path.join(feed_dir, "relay-*.parquet"))) == len(half) and \
            len(d.batch_stats) >= 2

    t.start()
    drv1.run_continuous(trigger_sec=0.4, timeout_sec=300, stop_when=half_done)
    t.join()

    # phase 2: resume from checkpoint; remaining DDLs carry over
    drv2 = make(False)
    drv2.ddl_events = drv1.ddl_events  # undelivered DDLs carry to the restart

    def all_done(_):
        cp = lake.global_checkpoint()
        return bool(cp) and (cp.get("file_seq"), cp.get("pos")) >= final_loc

    t2 = threading.Thread(target=_feeder, args=(rest, feed_dir))
    t2.start()
    drv2.run_continuous(trigger_sec=0.4, timeout_sec=300, stop_when=all_done)
    t2.join()
    lake.compact()

    # the optimistic ALTER applied exactly once, mid-stream
    assert [d["column"] for d in lake.applied_ddl_log()] == ["rating"]
    got = (
        lake.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = duck_replay(sf_dir)
    assert_tables_equal(got, want)


def test_control_file_pause_resume_stop(spark, sf_dir, tmp_path):
    """dmctl pause-task / resume-task / stop-task analog (dm/ctl/master,
    tests/dmctl_basic): the control file pauses consumption with the
    checkpoint intact, resuming drains from the same checkpoint, and
    stop exits the loop gracefully — all without killing the process.
    A config_patch written while live swaps the filter family at a
    batch boundary."""
    import json

    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake_ctl"), SCHEMA, KEY, n_buckets=8)
    feed_dir = str(tmp_path / "feed")
    staged = _stage_chunks(spark, sf_dir, str(tmp_path / "stage"))
    _feeder(staged, feed_dir, delay=0)  # all files present up front

    drv = CdcStreamDriver(
        spark, feed_dir, str(tmp_path / "cp"), ApplyPipeline(cfg),
        {"transcripts": lake}, max_files_per_trigger=4,
    )
    os.makedirs(drv.checkpoint_dir, exist_ok=True)

    def write_ctl(d):
        # ATOMIC write (like main.py ctl): the driver polls every 0.1s
        # and a partial read of a plain open(w) write is a loud
        # malformed-control error that kills the run loop
        tmp = drv.control_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, drv.control_path())

    write_ctl({"pause": True})  # born paused
    th = threading.Thread(
        target=lambda: drv.run_continuous(trigger_sec=0.2, timeout_sec=300, poll_sec=0.1)
    )
    th.start()
    try:
        deadline = time.time() + 60
        while not getattr(drv, "paused", False) and time.time() < deadline:
            time.sleep(0.1)
        assert drv.paused
        time.sleep(1.5)
        assert drv.batch_stats == []  # nothing consumed while paused

        # resume WITH a live filter patch: deny a table pattern
        write_ctl({"config_patch": {"deny_tables": ["shard_3.*"]}})
        deadline = time.time() + 240
        while time.time() < deadline:
            done = {s["batch_id"] for s in drv.batch_stats if not s.get("skipped")}
            if len(done) >= 2:  # 8 relay files / 4 per trigger
                break
            time.sleep(0.25)
        assert len({s["batch_id"] for s in drv.batch_stats if not s.get("skipped")}) >= 2
        assert drv.pipeline.config.deny_tables == ["shard_3.*"]  # patch applied

        write_ctl({"stop": True})
        th.join(90)
        assert not th.is_alive()
    finally:
        write_ctl({"stop": True})
        th.join(90)

    # every batch ran under the patched config (born paused, patched
    # before any consumption): the final state must EXACTLY match the
    # oracle replay with shard_3's events excluded from the feed
    assert_tables_equal(
        spark_final(lake),
        duck_replay(sf_dir, "source_table NOT LIKE 'shard_3.%'"),
    )


def test_config_patch_validation(spark, tmp_path):
    """Only the filter family is runtime-swappable; routing/key changes
    alter merge semantics and must be rejected loudly."""
    import pytest

    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.t", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake_cp"), SCHEMA, KEY, n_buckets=4)
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp"), ApplyPipeline(cfg),
        {"transcripts": lake},
    )
    drv._apply_op(
        "config_patch", {"expr_filters": [
            {"pattern": "shard_*.t", "insert_expr": "after.role = 'tool'"}
        ]}
    )
    assert drv.pipeline.config.expr_filters[0].insert_expr == "after.role = 'tool'"
    with pytest.raises(ValueError, match="not runtime-swappable"):
        drv._apply_op("config_patch", {"routes": []})
    with pytest.raises(ValueError, match="not runtime-swappable"):
        drv._apply_op("config_patch", {"key": ["conv_id"]})


def test_config_patch_preserves_location_floor(spark, tmp_path):
    """The snapshot-watermark gate (mode 'all') is task state, not
    filter config: a runtime patch must carry it to the swapped
    pipeline — losing it would re-apply pre-snapshot events."""
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.t", target="transcripts")])
    lake = LakeTable.create(
        spark, str(tmp_path / "lake_lf"),
        [("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
         ("text", "string"), ("tool", "string"), ("ts", "timestamp")],
        ["conv_id", "turn_idx"], n_buckets=4,
    )
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp"),
        ApplyPipeline(cfg, location_floor=(3, 7)), {"transcripts": lake},
    )
    drv._stage({"config_patch": {"deny_tables": ["x.*"]}})
    drv._apply_staged()
    assert drv.pipeline.config.deny_tables == ["x.*"]
    assert drv.pipeline.location_floor == (3, 7)


def test_settle_inflight_replays_interrupted_batch_idempotently(spark, sf_dir, tmp_path):
    """Review r5: a pause can interrupt a micro-batch AFTER its lake
    commit but BEFORE Spark's commit log — on resume that batch
    replays, and if a route patch had swapped in meanwhile the
    redirected rows would double-apply into a second lake. The settle
    step replays the interrupted batch under the OLD config first:
    `_checkpoint_settled` detects the gap and `_settle_inflight`
    re-runs the batch with the lake's batch-id gate making the re-merge
    a no-op (totals unchanged)."""
    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake_si"), SCHEMA, KEY, n_buckets=8)
    feed_dir = str(tmp_path / "feed")
    staged = _stage_chunks(spark, sf_dir, str(tmp_path / "stage"))
    _feeder(staged[:4], feed_dir, delay=0)
    drv = CdcStreamDriver(
        spark, feed_dir, str(tmp_path / "cp"), ApplyPipeline(cfg),
        {"transcripts": lake}, max_files_per_trigger=2,
    )
    drv.run_available_now()
    assert drv._checkpoint_settled()
    totals = lake.totals()
    # manufacture the interrupted state: newest stream commit vanishes
    # (the exact on-disk shape a q.stop() between lake commit and
    # stream commit leaves behind)
    commits = sorted(
        (f for f in os.listdir(str(tmp_path / "cp" / "commits")) if f.isdigit()),
        key=int,
    )
    os.remove(str(tmp_path / "cp" / "commits" / commits[-1]))
    # ...and its checksum sidecar: a real interruption (stop before the
    # rename) leaves NEITHER file; deleting only the data file leaves a
    # stale .crc no crash can produce, and the checksum FS would refuse
    # the re-commit rename
    crc = str(tmp_path / "cp" / "commits" / f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert not drv._checkpoint_settled()
    # ops STAGED by the poll loop before the pause must NOT be consumed
    # by the settle batch's own _apply_staged — that would replay
    # the interrupted batch under the new schema/filters, the exact
    # hazard settling exists to prevent (review r5). Sentinel patch: a
    # deny filter that would visibly change the replayed row set.
    drv._staged["config_patch"] = {"deny_tables": ["shard_*.transcripts_*"]}
    drv._settle_inflight()
    assert drv._checkpoint_settled()
    # the staged op survived untouched (applies at the NEXT real batch)
    assert drv._staged["config_patch"] == {"deny_tables": ["shard_*.transcripts_*"]}
    assert drv._applied["config_patch"] is None
    # the replayed batch was gated: nothing double-applied
    assert lake.totals() == totals


def test_route_patch_while_paused_via_ctl(spark, sf_dir, tmp_path):
    """The reference's pause-task -> update-task -> resume-task route
    change (tests/dmctl_basic; VERDICT r04 #5), driven end-to-end
    through `main.py ctl`: a live tail is paused mid-stream, a route
    patch redirects shard_3 to a quarantine lake, and the resumed
    stream applies every later event under the new routes. BOTH lakes'
    final states match exact DuckDB replay oracles split at the pause
    location."""
    import json

    import main as mainmod

    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake_rp"), SCHEMA, KEY, n_buckets=8)
    qlake = LakeTable.create(spark, str(tmp_path / "lake_q"), SCHEMA, KEY, n_buckets=8)
    feed_dir = str(tmp_path / "feed")
    cp_dir = str(tmp_path / "cp")
    staged = _stage_chunks(spark, sf_dir, str(tmp_path / "stage"))
    half, rest = staged[:4], staged[4:]

    # the pause boundary: max location delivered before the patch
    b = spark.read.parquet(*half).selectExpr(
        "max(struct(file_seq, pos)) AS m"
    ).collect()[0][0]
    after_b = f"(file_seq > {b['file_seq']} OR (file_seq = {b['file_seq']} AND pos > {b['pos']}))"
    routed_away = f"(source_table LIKE 'shard_3.%' AND {after_b})"
    feed_all = feedmod.change_feed(spark, sf_dir)

    def max_loc(cond):
        r = feed_all.where(cond).selectExpr("max(struct(file_seq, pos)) AS m").collect()[0][0]
        return (r["file_seq"], r["pos"]) if r else (-1, -1)

    t_final = max_loc(f"NOT (source_table LIKE 'shard_3.%' AND {after_b})")
    q_final = max_loc(f"source_table LIKE 'shard_3.%' AND {after_b}")
    assert q_final != (-1, -1)  # the redirected slice is non-empty

    drv = CdcStreamDriver(
        spark, feed_dir, cp_dir, ApplyPipeline(cfg),
        {"transcripts": lake, "quarantine": qlake}, max_files_per_trigger=2,
    )
    th = threading.Thread(
        target=lambda: drv.run_continuous(trigger_sec=0.2, timeout_sec=300, poll_sec=0.1)
    )
    _feeder(half, feed_dir, delay=0)
    th.start()
    try:
        def stream_settled():
            """True once the pre-pause slice is FULLY durable: the lake
            checkpoint reached the boundary AND Spark's commit log
            caught up with the offset log — pausing earlier can
            interrupt a batch after its lake commit but before the
            stream commit, and that batch would REPLAY under the
            post-patch routes (the batch-id gate keeps the lake state
            consistent, but the test's location-split oracle assumes
            the slice boundary == the pause boundary)."""
            cp = lake.global_checkpoint()
            if not cp or (cp.get("file_seq", -1), cp.get("pos", -1)) < (b["file_seq"], b["pos"]):
                return False
            offs = {os.path.basename(p) for p in glob.glob(os.path.join(cp_dir, "offsets", "*"))}
            cmts = {os.path.basename(p) for p in glob.glob(os.path.join(cp_dir, "commits", "*"))}
            return offs == cmts and bool(offs)

        deadline = time.time() + 120
        while not stream_settled() and time.time() < deadline:
            time.sleep(0.2)
        assert stream_settled()
        # pause -> patch (routes: paused-only surface) -> resume, all
        # through the dmctl analog
        assert mainmod.ctl([cp_dir, "pause"]) == 0
        deadline = time.time() + 60
        while not getattr(drv, "paused", False) and time.time() < deadline:
            time.sleep(0.1)
        assert drv.paused
        patch = {"routes": [
            {"pattern": "shard_3.transcripts_*", "target": "quarantine"},
            {"pattern": "shard_*.transcripts_*", "target": "transcripts"},
        ]}
        assert mainmod.ctl([cp_dir, "patch", json.dumps(patch)]) == 0
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(r.target == "quarantine" for r in drv.pipeline.config.routes):
                break
            time.sleep(0.1)
        assert any(r.target == "quarantine" for r in drv.pipeline.config.routes)
        _feeder(rest, feed_dir, delay=0)
        assert mainmod.ctl([cp_dir, "resume"]) == 0

        def drained(lk, final):
            cp = lk.global_checkpoint()
            return bool(cp) and (cp.get("file_seq", -1), cp.get("pos", -1)) >= final

        deadline = time.time() + 240
        while time.time() < deadline:
            if drained(lake, t_final) and drained(qlake, q_final):
                break
            time.sleep(0.25)
        assert drained(lake, t_final) and drained(qlake, q_final)
    finally:
        mainmod.ctl([cp_dir, "stop"])
        th.join(90)
        assert not th.is_alive()

    # exact split oracles: transcripts replays everything EXCEPT the
    # post-pause shard_3 slice; quarantine replays exactly that slice
    assert_tables_equal(spark_final(lake), duck_replay(sf_dir, f"NOT {routed_away}"))
    assert_tables_equal(spark_final(qlake), duck_replay(sf_dir, routed_away))


def test_route_patch_validation_paused_only(spark, tmp_path):
    """Routes swap only while paused, and only to targets that have a
    lake (rows to an unknown target would silently drop)."""
    import pytest

    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.t", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake_rv"), SCHEMA, KEY, n_buckets=4)
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp"), ApplyPipeline(cfg),
        {"transcripts": lake},
    )
    routes = {"routes": [{"pattern": "a.*", "target": "transcripts"}]}
    with pytest.raises(ValueError, match="PAUSED"):
        drv._apply_op("config_patch", routes)
    drv._apply_op("config_patch", routes, paused=True)
    assert drv.pipeline.config.routes[0].pattern == "a.*"
    with pytest.raises(ValueError, match="no lake"):
        drv._apply_op(
            "config_patch", {"routes": [{"pattern": "b.*", "target": "nowhere"}]},
            paused=True,
        )


def test_tail_restarts_after_paused_route_patch(spark, sf_dir, tmp_path):
    """pause -> route patch -> resume leaves the patch in control.json.
    A fresh driver on the same checkpoint must start (the recorded
    patch passed the paused check when first applied, so it is
    re-applied rather than refused as a live route change) and keep
    routing: shard_3 rows fed after the restart land in quarantine."""
    import json

    import main as mainmod

    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake_rr"), SCHEMA, KEY, n_buckets=8)
    qlake = LakeTable.create(spark, str(tmp_path / "lake_rq"), SCHEMA, KEY, n_buckets=8)
    feed_dir = str(tmp_path / "feed")
    cp_dir = str(tmp_path / "cp")
    staged = _stage_chunks(spark, sf_dir, str(tmp_path / "stage"))
    half, rest = staged[:4], staged[4:]
    feed_all = feedmod.change_feed(spark, sf_dir)

    def max_loc(df):
        r = df.selectExpr("max(struct(file_seq, pos)) AS m").collect()[0][0]
        return (r["file_seq"], r["pos"])

    t_final = max_loc(feed_all.where("source_table NOT LIKE 'shard_3.%'"))
    q_final = max_loc(feed_all.where("source_table LIKE 'shard_3.%'"))
    half_final = max_loc(spark.read.parquet(*half))

    def reached(lk, loc):
        cp = lk.global_checkpoint()
        return bool(cp) and (cp.get("file_seq", -1), cp.get("pos", -1)) >= loc

    def driver():
        return CdcStreamDriver(
            spark, feed_dir, cp_dir, ApplyPipeline(cfg),
            {"transcripts": lake, "quarantine": qlake}, max_files_per_trigger=2,
        )

    # first life: born paused, route patch, resume, drain half, stop
    assert mainmod.ctl([cp_dir, "pause"]) == 0
    _feeder(half, feed_dir, delay=0)
    drv = driver()
    th = threading.Thread(
        target=lambda: drv.run_continuous(trigger_sec=0.2, timeout_sec=300, poll_sec=0.1)
    )
    th.start()
    try:
        deadline = time.time() + 60
        while not getattr(drv, "paused", False) and time.time() < deadline:
            time.sleep(0.1)
        assert drv.paused
        patch = {"routes": [
            {"pattern": "shard_3.transcripts_*", "target": "quarantine"},
            {"pattern": "shard_*.transcripts_*", "target": "transcripts"},
        ]}
        assert mainmod.ctl([cp_dir, "patch", json.dumps(patch)]) == 0
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(r.target == "quarantine" for r in drv.pipeline.config.routes):
                break
            time.sleep(0.1)
        assert mainmod.ctl([cp_dir, "resume"]) == 0
        deadline = time.time() + 240
        while time.time() < deadline:
            if reached(lake, half_final) or reached(qlake, half_final):
                break
            time.sleep(0.25)
        assert reached(lake, half_final) or reached(qlake, half_final)
    finally:
        mainmod.ctl([cp_dir, "stop"])
        th.join(90)
        assert not th.is_alive()

    # second life: the patch is still in control.json; the new driver
    # is built from the unpatched task config
    assert mainmod.ctl([cp_dir, "resume"]) == 0
    assert json.load(open(drv.control_path()))["config_patch"] == patch
    _feeder(rest, feed_dir, delay=0)
    drv2 = driver()
    drv2.run_continuous(
        trigger_sec=0.2, timeout_sec=300, poll_sec=0.1,
        stop_when=lambda d: reached(lake, t_final) and reached(qlake, q_final),
    )
    assert reached(lake, t_final) and reached(qlake, q_final)
    assert_tables_equal(
        spark_final(lake), duck_replay(sf_dir, "source_table NOT LIKE 'shard_3.%'")
    )
    assert_tables_equal(
        spark_final(qlake), duck_replay(sf_dir, "source_table LIKE 'shard_3.%'")
    )


def test_drain_applies_pending_filter_patch(spark, sf_dir, tmp_path):
    """A drain-mode relaunch (`Task.run_incremental`, main.py mode
    incremental) goes through the same start path as a live tail: a
    deny patch pending in control.json filters the drained feed."""
    import main as mainmod
    from dm_spark.task import Task

    cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake_dp"), SCHEMA, KEY, n_buckets=8)
    task = Task(
        spark, cfg, lake,
        feed_dir=str(tmp_path / "feed"), checkpoint_dir=str(tmp_path / "cp"),
    )
    write_feed_chunks(feedmod.change_feed(spark, sf_dir), task.feed_dir, n_chunks=4)
    assert mainmod.ctl([task.checkpoint_dir, "patch", '{"deny_tables": ["shard_3.*"]}']) == 0
    task.run_incremental()
    assert_tables_equal(
        spark_final(lake), duck_replay(sf_dir, "source_table NOT LIKE 'shard_3.%'")
    )


def test_operate_schema_ctl_get_set_remove(spark, tmp_path):
    """dmctl operate-schema analog (dm/ctl/master/operate_schema.go;
    tests/tracker_ignored_ddl): `main.py ctl <cp> schema get` reads the
    persisted runner state; `set` overwrites the tracker's view of a
    table from a CREATE TABLE statement (declared generated columns
    register for pruning); `remove` drops the entry. set/remove stage
    through control.json and apply at a batch boundary; a repeated
    poll of the same control content must not re-apply."""
    import json

    import pytest

    import main as mainmod
    from dm_spark.plans import ReplayRunner

    cfg = TaskConfig(routes=[RouteRule(pattern="db.*", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake_os"), SCHEMA, KEY, n_buckets=4)
    runner = ReplayRunner(pipeline=ApplyPipeline(cfg), lake=lake)
    runner.registry.seed("db.t", [("id", "bigint"), ("v", "string")])
    cp = str(tmp_path / "cp")
    os.makedirs(cp, exist_ok=True)
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), cp, ApplyPipeline(cfg),
        {"transcripts": lake}, runner=runner,
    )
    drv._save_runner_state()

    # get: straight from the state file, no driver round-trip
    assert mainmod.ctl([cp, "schema", "get", "db.t"]) == 0
    with pytest.raises(SystemExit, match="no tracked schema"):
        mainmod.ctl([cp, "schema", "get", "db.missing"])

    # set: stage via control.json, apply at the batch boundary
    mainmod.ctl([
        cp, "schema", "set", "db.t",
        "CREATE TABLE db.t (id BIGINT PRIMARY KEY, v TEXT, extra INT, "
        "g INT AS (id+1))",
    ])
    ctl = drv._read_control()
    drv._stage(ctl)
    drv._apply_staged()
    assert runner.registry.get("db.t") == [
        ("id", "bigint"), ("v", "string"), ("extra", "int")
    ]
    # declared generated column registered exactly as an in-stream
    # CREATE would register it
    assert runner.dynamic_generated == {"transcripts": ["g"]}
    # persisted immediately (the reference's --flush)
    with open(os.path.join(cp, "runner_state.json")) as f:
        assert f.read().find('"extra"') > 0
    # idempotence: the same control content stages nothing
    drv._stage(ctl)
    assert "schema_op" not in drv._staged

    # remove
    mainmod.ctl([cp, "schema", "remove", "db.t"])
    ctl = drv._read_control()
    drv._stage(ctl)
    drv._apply_staged()
    assert "db.t" not in runner.registry.schemas

    # a driver built without `runner=` runs its own runner, whose
    # tracker takes schema ops as well (the shape check still applies)
    default = CdcStreamDriver(
        spark, str(tmp_path / "feed"), str(tmp_path / "cp2"),
        ApplyPipeline(cfg), {"transcripts": lake},
    )
    assert default._check("schema_op", {"op": "remove", "table": "db.t"}) is None
    with pytest.raises(ValueError, match="rejected by the DDL grammar"):
        default._check("schema_op", {"op": "set", "table": "db.t", "create": "x"})
    # malformed ops refuse with the field named
    with pytest.raises(ValueError, match="set|remove"):
        drv._check("schema_op", {"op": "frobnicate", "table": "db.t"})
    with pytest.raises(ValueError, match="CREATE TABLE"):
        drv._check("schema_op", {"op": "set", "table": "db.t"})


def test_operate_schema_set_mirrors_in_stream_create(spark, tmp_path):
    """The set path must behave exactly like an in-stream CREATE
    (plans/replay.py _handle_table_ddl): columns the new CREATE declares
    as DATA columns stop being generated-pruned, a previously dropped
    table becomes live again, a statement naming a different table
    refuses (at ctl compose time AND driver validate time), an
    unparseable statement never reaches control.json, and an applied op
    is not re-applied after a driver restart (the control file still
    holds it)."""
    import pytest

    import main as mainmod
    from dm_spark.plans import ReplayRunner

    cfg = TaskConfig(routes=[RouteRule(pattern="db.*", target="transcripts")])
    lake = LakeTable.create(spark, str(tmp_path / "lake_ms"), SCHEMA, KEY, n_buckets=4)
    runner = ReplayRunner(pipeline=ApplyPipeline(cfg), lake=lake)
    # diverged tracker state the op exists to correct: g was generated,
    # the table was dropped in-stream
    runner.registry.seed("db.t", [("id", "bigint"), ("v", "string")])
    runner._register_generated(["g"], "db.t")
    runner.dropped_tables.add("db.t")
    cp = str(tmp_path / "cp")
    os.makedirs(cp, exist_ok=True)
    drv = CdcStreamDriver(
        spark, str(tmp_path / "feed"), cp, ApplyPipeline(cfg),
        {"transcripts": lake}, runner=runner,
    )

    # upstream converted g to a stored DATA column; the set must both
    # install it as data AND un-register the stale generated pruning
    mainmod.ctl([
        cp, "schema", "set", "db.t",
        "CREATE TABLE db.t (id BIGINT PRIMARY KEY, v TEXT, g INT)",
    ])
    drv._stage(drv._read_control())
    drv._apply_staged()
    assert runner.registry.get("db.t") == [
        ("id", "bigint"), ("v", "string"), ("g", "int")
    ]
    assert runner.dynamic_generated == {}  # stale pruning cleared
    assert "db.t" not in runner.dropped_tables  # table live again

    # mismatched table name refuses at compose time AND validate time
    with pytest.raises(SystemExit, match="names 'db.u'"):
        mainmod.ctl([
            cp, "schema", "set", "db.t",
            "CREATE TABLE db.u (id BIGINT PRIMARY KEY, v TEXT)",
        ])
    with pytest.raises(ValueError, match="names 'db.u'"):
        drv._check("schema_op", {
            "op": "set", "table": "db.t",
            "create": "CREATE TABLE db.u (id BIGINT PRIMARY KEY)",
        })

    # unparseable / rejected DDL never reaches control.json
    before = drv._read_control()
    with pytest.raises(SystemExit, match="rejected"):
        mainmod.ctl([
            cp, "schema", "set", "db.t",
            "CREATE TABLE db.t (v TEXT) PARTITION BY RANGE (id) "
            "(PARTITION p0 VALUES LESS THAN (10))",
        ])
    assert drv._read_control() == before

    # restart guard: a new driver over the SAME checkpoint sees the op
    # still in control.json but must not re-apply it — an ALTER applied
    # since would otherwise be silently reverted
    runner.registry.apply("db.t", {"action": "add_column", "column": "late", "new_type": "int"})
    drv._save_runner_state()  # drv2 restores runner state from this file
    drv2 = CdcStreamDriver(
        spark, str(tmp_path / "feed"), cp, ApplyPipeline(cfg),
        {"transcripts": lake}, runner=runner,
    )
    drv2._stage(drv2._read_control())
    drv2._apply_staged()
    assert ("late", "int") in runner.registry.get("db.t")
    # a FRESH issue of byte-identical content carries a new id and
    # applies again (that is the operator's intent)
    mainmod.ctl([
        cp, "schema", "set", "db.t",
        "CREATE TABLE db.t (id BIGINT PRIMARY KEY, v TEXT, g INT)",
    ])
    drv2._stage(drv2._read_control())
    drv2._apply_staged()
    assert ("late", "int") not in runner.registry.get("db.t")
