"""Plan audits: verify the physical plans are the ones we want.

Checks (prints PASS/FAIL lines + the formatted plans):
1. feed scan prunes columns — ReadSchema on events.parquet contains
   only event_id, user_id, event_type, ts.
2. filter pushdown — a source_table predicate appears as PushedFilters
   when reading a materialized feed.
3. merge plan has exactly ONE shuffle (Exchange) between the incoming
   batch and the written files (repartition reused by the LWW window),
   on the plans copy-on-write merges really write, once on the one-job
   path and once on the touched-bucket pre-pass path.
4. transform pipeline stays in WholeStageCodegen (no Python in the
   non-decode path).
5. candidate generation in the corpus dedup/ANN operators is
   equi-join-shaped: no CartesianProduct / BroadcastNestedLoopJoin in
   ngram-Jaccard, MinHash-LSH, SimHash, LSH-ANN, IVF-ANN (only the
   fenced exact cosine baseline may be a nested-loop join).
6. wire decode: exactly one Python node (the mapInPandas JSON
   kernel); struct re-assembly and image-timestamp parsing stay
   JVM-side and the decode introduces no exchange.
7. temporal joins: the as-of join plan contains NO join operator
   (union-and-window), the bounded range join only equi-joins.
8. r5 shapes: convo-hygiene window+agg share ONE conv_id exchange;
   the PII scrub pipeline is pure codegen (no Python, no shuffle).
9. SFT example extraction + context-window truncation share the
   hygiene plan class: one conv_id exchange each, JVM-only.
10. unigram-LM scoring joins tokens only by equi-join (the sole
    nested-loop is the broadcast of the ONE-ROW corpus totals) and
    turn dedup is a single fingerprint exchange — both JVM-only.
11. preference-pair mining is one key exchange, join-free;
    prefix-template detection equi-joins only — both JVM-only.
12. best-of-history mining shares the preference-pairs class (one
    key exchange, join-free); loss-mask spans are one conv_id
    exchange; conversation dedup has no nested-loop join — JVM-only.
"""

from __future__ import annotations

import io
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F

from dm_spark import feed as feedmod
from dm_spark.config import RouteRule, TaskConfig
from dm_spark.lake import LakeTable
from dm_spark.operators import ApplyPipeline
from dm_spark.session import get_spark


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain_audit", shuffle_partitions=8)
    failures = []

    # 1. column pruning on the events scan
    p1 = plan_of(feedmod.change_feed(spark, sf))
    m = re.search(r"ReadSchema: struct<([^>]*)>", p1)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(",")) if m else []
    ok1 = cols == ["event_id", "event_type", "ts", "user_id"]
    print(f"{'PASS' if ok1 else 'FAIL'} column-pruning: ReadSchema={cols}")
    if not ok1:
        failures.append("column-pruning")
        print(p1)

    # 2. predicate pushdown through the pipeline filters
    cfg = TaskConfig(
        deny_tables=["shard_3.*"],
        routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")],
    )
    feed_path = tempfile.mkdtemp() + "/feed"
    feedmod.change_feed(spark, sf).write.parquet(feed_path)
    stored = spark.read.parquet(feed_path)
    p2 = plan_of(stored.filter(F.col("source_table") == "shard_1.transcripts_0"))
    ok2 = "PushedFilters: [IsNotNull(source_table), EqualTo(source_table" in p2
    print(f"{'PASS' if ok2 else 'FAIL'} predicate-pushdown on source_table")
    if not ok2:
        failures.append("pushdown")
        print(p2)

    # 3. single exchange in the merge write plan, on both CoW paths
    lake = LakeTable.create(
        spark,
        tempfile.mkdtemp() + "/lake",
        [("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
         ("text", "string"), ("tool", "string"), ("ts", "timestamp")],
        ["conv_id", "turn_idx"],
        n_buckets=8,
    )
    batch = ApplyPipeline(cfg).transform(feedmod.change_feed(spark, sf)).drop("target_table")
    key = batch.select("conv_id", "turn_idx").first()
    one_key = batch.where(
        (F.col("conv_id") == key.conv_id) & (F.col("turn_idx") == key.turn_idx)
    )

    def merge_plans(b, batch_id):
        """(whether the merge runs the touched-bucket pre-pass, the
        plans it really writes — batch + base -> files — explained
        while the merge holds its session conf)"""
        pre = LakeTable._prune_pays(lake._load_meta())
        written = []
        orig_commit = LakeTable._commit_files

        def commit_spy(self, out, *a, **k):
            written.append(plan_of(out))
            return orig_commit(self, out, *a, **k)

        LakeTable._commit_files = commit_spy
        try:
            lake.merge_into(b, batch_id=batch_id)
        finally:
            LakeTable._commit_files = orig_commit
        return pre, written

    lake.merge_into(batch, batch_id=0)  # base now non-empty, every bucket touched
    runs = {"one-job": merge_plans(batch, 1)}
    lake.merge_into(one_key, batch_id=2)  # touches one bucket: the pre-pass pays again
    runs["pre-pass"] = merge_plans(one_key, 3)
    for path, (pre, written) in runs.items():
        p3 = "\n".join(written)
        # count Exchange NODES (detail headers "(n) Exchange"), not mentions
        n_ex = len(re.findall(r"\(\d+\) Exchange", p3))
        ok3 = pre == (path == "pre-pass") and len(written) == 1 and n_ex == 1
        print(
            f"{'PASS' if ok3 else 'FAIL'} single-shuffle merge ({path}): "
            f"pre_pass={pre} writes={len(written)} exchanges={n_ex}"
        )
        if not ok3:
            failures.append(f"single-shuffle {path}")
            print(p3)

    # 4. no Python eval in the non-decode pipeline (simple mode shows
    # whole-stage-codegen as "*(n)" operator prefixes)
    p4 = plan_of(ApplyPipeline(cfg).transform(feedmod.change_feed(spark, sf)), "simple")
    ok4 = "Python" not in p4 and "*(" in p4
    print(f"{'PASS' if ok4 else 'FAIL'} JVM-only transform pipeline (codegen)")
    if not ok4:
        failures.append("codegen")
        print(p4)

    # 5. corpus candidate generation never degenerates to a cross join
    from dm_spark.functions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
    )
    from dm_spark.functions.similarity import (
        cosine_topk_ivf,
        cosine_topk_lsh,
        embedding_near_dup_pairs_lsh,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    embs = spark.read.parquet(f"{sf}/embeddings.parquet")
    plans = {
        "ngram_jaccard": ngram_jaccard_pairs(docs, max_df=100),
        "minhash_lsh": minhash_lsh_pairs(docs),
        "simhash": simhash_near_pairs(docs),
        "ann_lsh": cosine_topk_lsh(embs, n_planes=6),
        "ann_ivf": cosine_topk_ivf(embs, n_lists=16),
        "emb_near_dup_lsh": embedding_near_dup_pairs_lsh(embs, n_planes=6),
    }
    bad = []
    for name, df in plans.items():
        p = plan_of(df, "simple")
        if "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p:
            bad.append(name)
            print(p)
    ok5 = not bad
    print(f"{'PASS' if ok5 else 'FAIL'} equi-join-only candidate generation: cross-joins={bad}")
    if not ok5:
        failures.append("corpus-cross-join")

    # 6. wire decode: EXACTLY ONE Python node (the mapInPandas json
    # kernel) and everything around it JVM-side — struct re-assembly +
    # image-ts to_timestamp fold into Project/codegen, no exchange is
    # introduced by the decode itself (r4 flat-kernel rewrite)
    from dm_spark.sources.decode import decode_wire, to_wire

    wire = to_wire(feedmod.change_feed(spark, sf))
    p6 = plan_of(decode_wire(wire), "simple")
    n_py = len(re.findall(r"MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython", p6))
    # the decode itself must add NO exchange on top of the wire feed's
    # plan (the feed may carry the adaptive small-scan repartition,
    # scan.py — that exchange belongs to the source, not the decode)
    n_ex6 = p6.count("Exchange") - plan_of(wire, "simple").count("Exchange")
    ok6 = n_py == 1 and n_ex6 == 0
    print(
        f"{'PASS' if ok6 else 'FAIL'} decode plan: one Python node, "
        f"JVM restruct, no added exchange (python_nodes={n_py}, added_exchanges={n_ex6})"
    )
    if not ok6:
        failures.append("decode-plan")
        print(p6)

    # 7. temporal joins keep their scale shapes: as-of is join-FREE
    # (union + one window shuffle), the bounded range join is
    # equi-join-only (bucket probe), never BNLJ/cartesian
    from dm_spark.queries_corpus import q_events_asof_join, q_events_range_join

    p7a = plan_of(q_events_asof_join(spark, sf), "simple")
    p7b = plan_of(q_events_range_join(spark, sf), "simple")
    ok7 = (
        "Join" not in p7a
        and "CartesianProduct" not in p7b
        and "BroadcastNestedLoopJoin" not in p7b
    )
    print(
        f"{'PASS' if ok7 else 'FAIL'} temporal joins: asof join-free "
        f"(joins={p7a.count('Join')}), range equi-join-only"
    )
    if not ok7:
        failures.append("temporal-joins")
        print(p7a)
        print(p7b)

    # 8. r5 additions keep their shapes: the hygiene window+agg share
    # ONE conv_id exchange (lag/row_number partitioning feeds the
    # groupBy), and the PII scrub is pure codegen — a scrubbed pipeline
    # plan contains no Python node and no exchange beyond the plain
    # pipeline's
    from dm_spark.operators.mapping import pii_scrub_rule
    from dm_spark.queries_cdc import convo_hygiene

    fin = spark.createDataFrame(
        [("c1", 1, "user")], "conv_id string, turn_idx int, role string"
    )
    p8a = plan_of(convo_hygiene(fin), "simple")
    cfg_s = TaskConfig(
        routes=[RouteRule(pattern="shard_*.transcripts_*", target="transcripts")],
        column_mappings=[pii_scrub_rule("shard_*.transcripts_*", "text")],
    )
    p8b = plan_of(
        ApplyPipeline(cfg_s).transform(feedmod.change_feed(spark, sf)), "simple"
    )
    # the scrub must add no exchange on top of the plain pipeline's
    # plan (p4: same feed, same flatten — only the feed's adaptive
    # small-scan repartition may appear in either)
    n_ex8 = p8b.count("Exchange") - p4.count("Exchange")
    ok8 = (
        p8a.count("Exchange") == 1
        and n_ex8 == 0
        and not re.search(r"MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython", p8b)
    )
    print(
        f"{'PASS' if ok8 else 'FAIL'} r5 shapes: hygiene single exchange "
        f"(exchanges={p8a.count('Exchange')}), scrub codegen-only, no added "
        f"shuffle (added_exchanges={n_ex8})"
    )
    if not ok8:
        failures.append("r5-shapes")
        print(p8a)
        print(p8b)

    # 9. SFT example extraction and context-window truncation keep the
    # hygiene plan class: all window aggregates + the final agg share
    # ONE conv_id exchange, and everything stays JVM-side (no Python
    # nodes — token counting and the context fingerprint are codegen
    # expressions)
    from dm_spark.queries_cdc import context_window_stats, sft_examples

    fin2 = spark.createDataFrame(
        [("c1", 1, "user", "hi")],
        "conv_id string, turn_idx int, role string, text string",
    )
    p9a = plan_of(sft_examples(fin2), "simple")
    p9b = plan_of(context_window_stats(fin2), "simple")
    ok9 = (
        p9a.count("Exchange") == 1
        and p9b.count("Exchange") == 1
        and not re.search(r"MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython", p9a + p9b)
    )
    print(
        f"{'PASS' if ok9 else 'FAIL'} sft/context-window single conv_id exchange "
        f"(sft={p9a.count('Exchange')}, ctx={p9b.count('Exchange')}), JVM-only"
    )
    if not ok9:
        failures.append("sft-ctx-shapes")
        print(p9a)
        print(p9b)

    # 10. lm-score/turn-dedup shapes: unigram_lm_bits must stay
    # equi-join-shaped on the token (no CartesianProduct; the ONLY
    # nested-loop join is the broadcast cross join of the one-row
    # corpus totals) and turn_dedup collapses on the fingerprint with
    # a single exchange (groupBy-min survivor, no window, no join) —
    # both fully JVM-side
    from dm_spark.functions.text import unigram_lm_bits
    from dm_spark.queries_cdc import turn_dedup

    p10a = plan_of(unigram_lm_bits(docs), "simple")
    p10b = plan_of(turn_dedup(fin2), "simple")
    n_bnlj = p10a.count("BroadcastNestedLoopJoin")
    ok10 = (
        "CartesianProduct" not in p10a
        and n_bnlj == 1
        and p10b.count("Exchange") == 1
        and "Join" not in p10b
        and not re.search(r"MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython", p10a + p10b)
    )
    print(
        f"{'PASS' if ok10 else 'FAIL'} lm-score equi-join + one broadcast-totals "
        f"BNLJ (bnlj={n_bnlj}), turn-dedup single fp exchange "
        f"(exchanges={p10b.count('Exchange')}), JVM-only"
    )
    if not ok10:
        failures.append("lm-turn-shapes")
        print(p10a)
        print(p10b)

    # 11. preference-pair mining reuses the window's (conv_id,
    # turn_idx) hash partitioning for its follow-up groupBy — ONE
    # exchange total, no join, fully JVM-side; prefix-template
    # detection is equi-join-only (no cartesian/BNLJ: the
    # (depth, prefix_fp) group join must hash- or sort-merge)
    from dm_spark.queries_cdc import preference_pairs, prefix_templates

    split2 = spark.createDataFrame(
        [("c1", 1, "I", "assistant", "t", None, 1, 1)],
        "conv_id string, turn_idx int, op string, role string, "
        "text string, ts timestamp, file_seq long, pos long",
    )
    p11a = plan_of(preference_pairs(split2), "simple")
    p11b = plan_of(prefix_templates(fin2), "simple")
    ok11 = (
        p11a.count("Exchange") == 1
        and "Join" not in p11a
        and not re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p11b)
        and not re.search(r"MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython", p11a + p11b)
    )
    print(
        f"{'PASS' if ok11 else 'FAIL'} preference-pairs single key exchange "
        f"(exchanges={p11a.count('Exchange')}, join-free), prefix-templates "
        "equi-join-only, JVM-only"
    )
    if not ok11:
        failures.append("pref-prefix-shapes")
        print(p11a)
        print(p11b)

    # 12. best-of-history shares preference_pairs' single-exchange
    # class (both windows + the per-key count reuse ONE (conv_id,
    # turn_idx) hash partitioning, join-free); loss-mask spans and
    # conversation dedup stay JVM-only with no nested-loop join
    from dm_spark.queries_cdc import best_of_history, conv_dedup, sft_loss_masks

    p12a = plan_of(best_of_history(split2), "simple")
    p12b = plan_of(sft_loss_masks(fin2), "simple")
    p12c = plan_of(conv_dedup(fin2), "simple")
    ok12 = (
        p12a.count("Exchange") == 1
        and "Join" not in p12a
        and p12b.count("Exchange") == 1
        and not re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p12c)
        and not re.search(
            r"MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython", p12a + p12b + p12c
        )
    )
    print(
        f"{'PASS' if ok12 else 'FAIL'} best-of-history single key exchange "
        f"(exchanges={p12a.count('Exchange')}, join-free), loss-mask single "
        f"conv_id exchange (exchanges={p12b.count('Exchange')}), conv-dedup "
        "equi-only, all JVM-only"
    )
    if not ok12:
        failures.append("best-of-history-shapes")
        print(p12a)
        print(p12b)
        print(p12c)

    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
