"""Drive dm_spark end-to-end like a user: task config -> relay feed ->
streaming driver -> lake table; print final-state diff vs DuckDB oracle."""
import sys, os, json
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
from dm_spark.session import get_spark
from dm_spark import feed as feedmod
from dm_spark.config import TaskConfig, RouteRule
from dm_spark.lake import LakeTable
from dm_spark.operators import ApplyPipeline
from dm_spark.sources.relay import write_feed_chunks
from dm_spark.streaming import CdcStreamDriver

SF = "/root/testdata/sf0.01"   # 10k events — bigger than the pytest tier
WORK = sys.argv[1]
PHASE = sys.argv[2]  # "all" | "half" | "resume" | "drain"

CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
spark = get_spark("drive_cdc", master=f"local[{CPUS}]", shuffle_partitions=16)
cfg = TaskConfig(routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")])
SCHEMA = [("conv_id","string"),("turn_idx","int"),("role","string"),
          ("text","string"),("tool","string"),("ts","timestamp")]
lake_path = f"{WORK}/lake"
lake = LakeTable(spark, lake_path)
if not lake.exists:
    lake = LakeTable.create(spark, lake_path, SCHEMA, ["conv_id","turn_idx"], n_buckets=16)

feed = feedmod.change_feed(spark, SF)
from pyspark.sql import functions as F
if PHASE == "half":
    bounds = [r[0] for r in feed.select("txn_id").distinct().orderBy("txn_id").collect()]
    mid = bounds[len(bounds)//2]
    write_feed_chunks(feed.where(F.col("txn_id") <= mid), f"{WORK}/feed", n_chunks=5)
elif PHASE == "resume":
    bounds = [r[0] for r in feed.select("txn_id").distinct().orderBy("txn_id").collect()]
    mid = bounds[len(bounds)//2]
    write_feed_chunks(feed.where(F.col("txn_id") > mid), f"{WORK}/feed", n_chunks=5, start_index=500)
elif PHASE == "drain":
    pass  # feed already on disk; just resume the stream
else:
    write_feed_chunks(feed, f"{WORK}/feed", n_chunks=10)

drv = CdcStreamDriver(spark, f"{WORK}/feed", f"{WORK}/cp", ApplyPipeline(cfg),
                      {"transcripts": lake}, max_files_per_trigger=2)
stats = drv.run_available_now()
print("BATCHES:", json.dumps(stats))
print("TOTALS:", json.dumps(lake.totals()), "CHECKPOINT:", json.dumps(lake.global_checkpoint()))

if PHASE in ("all", "resume", "drain"):
    got = (lake.read().select("conv_id","turn_idx","role","text","tool","ts")
           .toPandas().sort_values(["conv_id","turn_idx"]).reset_index(drop=True))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')")
    want = con.execute(f"""
      WITH feed AS ({feedmod.FEED_SQL}),
      split AS (
        SELECT op, conv_id, turn_idx, role, text, tool, ts, file_seq, pos FROM feed
        UNION ALL
        SELECT 'D' AS op, conv_id, before_turn_idx AS turn_idx, role, text, tool,
               ts, file_seq, pos
        FROM feed WHERE key_moved
      ),
      latest AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                 ORDER BY ts DESC, file_seq DESC, pos DESC) rn FROM split)
      SELECT conv_id, turn_idx, role, text, tool, ts FROM latest
      WHERE rn = 1 AND op <> 'D' ORDER BY conv_id, turn_idx""").df().reset_index(drop=True)
    ok = len(got) == len(want) and all(
        (got[c].fillna("~") == want[c].fillna("~")).all() for c in ["conv_id","turn_idx","role","text","tool"]
    ) and (got["ts"].astype("datetime64[us]") == want["ts"].astype("datetime64[us]")).all()
    print(f"ORACLE_DIFF: rows_spark={len(got)} rows_duckdb={len(want)} match={ok}")
    sys.exit(0 if ok else 1)
