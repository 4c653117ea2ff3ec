"""Structured Streaming tests: windowed rollup equivalence with the batch
engine, and the foreachBatch pipeline with mergeable compaction."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from ringo_spark.engine import Engine
from ringo_spark.model import PopulationMode
from ringo_spark.streaming.incremental import (
    StreamingPipeline, streaming_fact_rollup,
)
from ringo_spark.testbed import EVENTS, EVENTS_ENV, EVENTS_FACT, T_FAR
from ringo_spark.catalog import load_catalog
from ringo_spark.populate.fact import fact_population_df
from ringo_spark.populate.dimension import dimension_population_df

SF = "/root/testdata/sf0.001"


def _events_schema(spark):
    return load_catalog(spark, SF, [EVENTS])["events"].schema


def test_streaming_rollup_matches_batch(spark, tmp_path):
    cat = load_catalog(spark, SF, [EVENTS])
    dim = dimension_population_df(EVENTS_ENV, EVENTS_FACT, "dim_event_type",
                                  cat, time_upper=T_FAR)
    # stream the same parquet data as a file source
    src = str(tmp_path / "stream-src")
    cat["events"].write.parquet(src)
    stream = spark.readStream.schema(_events_schema(spark)).parquet(src)
    rolled = streaming_fact_rollup(EVENTS_ENV, EVENTS_FACT, stream,
                                   dims={"dim_event_type": dim})
    q = (rolled.writeStream.format("memory").queryName("rollup")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("select * from rollup").collect()}
    want = {tuple(r) for r in fact_population_df(
        EVENTS_ENV, EVENTS_FACT, cat, dims={"dim_event_type": dim},
        time_upper=T_FAR, count_distinct_mode="approx").collect()}
    assert got == want


def test_foreachbatch_pipeline_and_compaction(spark, tmp_path):
    cat = load_catalog(spark, SF, [EVENTS])
    # two files -> two micro-batches (deliberately NOT bucket-aligned:
    # compaction must merge partial rows per grain)
    src = str(tmp_path / "src")
    n = cat["events"].count()
    half = cat["events"].limit(n // 2)
    rest = cat["events"].subtract(half)
    half.coalesce(1).write.parquet(src)
    rest.coalesce(1).write.mode("append").parquet(src)

    eng = Engine(spark, EVENTS_ENV, str(tmp_path / "wh"))
    eng.load_sources(SF)
    pipe = StreamingPipeline(eng, EVENTS_FACT)
    stream = (spark.readStream.schema(_events_schema(spark))
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = pipe.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    fact_table = "fact_events_by_minute"
    before = eng.read_table(fact_table).count()
    eng.compact_fact(EVENTS_FACT)
    after_df = eng.read_table(fact_table)
    after = after_df.count()
    assert after <= before
    # one row per grain after compaction
    keys = ["ts_minute_id", "user_id", "event_type_id"]
    assert after == after_df.select(*keys).distinct().count()
    # measures merged losslessly
    assert after_df.agg(F.sum("event_count")).collect()[0][0] == n
    # sketch state is mergeable end-to-end: global estimate ~= exact
    est = after_df.agg(
        F.hll_sketch_estimate(F.hll_union_agg("user_count"))).collect()[0][0]
    exact = cat["events"].select("user_id").distinct().count()
    assert abs(est - exact) <= max(2, 0.15 * exact)


def test_streaming_exact_dedup_drops_replays_and_expires_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: replayed texts within the horizon are
    dropped; state is keyed on the md5 hash and expires with the watermark."""
    import datetime as dt

    from ringo_spark.streaming.dedup import streaming_exact_dedup

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, "alpha doc"),
        (2, t0 + dt.timedelta(seconds=5), "beta doc"),
        (3, t0 + dt.timedelta(seconds=10), "alpha doc"),     # replay -> drop
        (4, t0 + dt.timedelta(seconds=3600), "gamma doc"),   # advances wm
    ]
    src = str(tmp_path / "dedup_src")
    spark.createDataFrame(rows, "doc_id long, ts timestamp, text string") \
        .coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, ts timestamp, text string") \
        .parquet(src)
    q = (streaming_exact_dedup(stream, watermark_delay="60 seconds")
         .writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    kept = {r.doc_id for r in spark.sql("select * from dedup_out").collect()}
    assert kept == {1, 2, 4}
    # watermark (3600 - 60) passed alpha/beta event times + delay: their
    # keys are expired; only gamma's key can remain in state
    progress = q.lastProgress
    assert progress["stateOperators"][0]["numRowsTotal"] <= 1


def test_streaming_pipeline_with_manifest_commits(spark, tmp_path):
    """StreamingPipeline over the manifest commits: each micro-batch's
    append publishes atomically (one new version dir + pointer flip), so
    readers between micro-batches always see a complete snapshot — the
    exactly-once table-maintenance story end-to-end on object-store-safe
    commits."""
    import json as _json
    import os as _os

    cat = load_catalog(spark, SF, [EVENTS])
    src = str(tmp_path / "src")
    n = cat["events"].count()
    # THREE micro-batches, not two: unbounded micro-batch appends must
    # stay UNSTAMPED — r12 review finding: a (None, None) window stamp
    # covers every other (None, None) stamp, so from the third batch on
    # each append would silently replace all prior batches' dirs (the
    # two-batch version of this test could not see it: batch 1 is an
    # unstamped full write)
    third = cat["events"].limit(n // 3)
    rest = cat["events"].subtract(third)
    third2 = rest.limit(n // 3)
    third3 = rest.subtract(third2)
    third.coalesce(1).write.parquet(src)
    third2.coalesce(1).write.mode("append").parquet(src)
    third3.coalesce(1).write.mode("append").parquet(src)

    eng = Engine(spark, EVENTS_ENV, str(tmp_path / "wh"))
    eng.load_sources(SF)
    pipe = StreamingPipeline(eng, EVENTS_FACT)
    stream = (spark.readStream.schema(_events_schema(spark))
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = pipe.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    fact_table = "fact_events_by_minute"
    m = _json.load(open(_os.path.join(
        eng.storage, fact_table + ".manifest.json")))
    # batch 1 full-wrote v1; batches 2 and 3 appended -> the live
    # snapshot is the union of all three dirs and no append ever
    # replaced an earlier micro-batch's dir
    assert m["version"] == 3
    assert len(m["versions"][str(m["version"])]) == 3
    assert m.get("windows", {}) == {}
    assert eng.read_table(fact_table).agg(
        F.sum("event_count")).collect()[0][0] == n
    # every batch's tag rode its own publish; unbounded micro-batches
    # publish no watermark
    assert len(m["batch_tags"]) == 3
    assert "watermark" not in m


def test_streaming_pit_enrich_matches_batch(spark, tmp_path):
    """Stream-static SCD2 enrichment: every streamed lineitem row gets the
    customer status valid at SHIP time; the streamed output is row-equal
    to the batch join, and rows predating the first interval carry the
    UNKNOWN sentinel (row counts conserved)."""
    from ringo_spark.operators.relational import scd2_dim_df
    from ringo_spark.streaming.enrich import streaming_pit_enrich

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    facts = (li.join(orders.select("o_orderkey", "o_custkey"),
                     li.l_orderkey == F.col("o_orderkey"))
             .select("o_custkey", "l_orderkey", "l_linenumber",
                     "l_shipdate", "l_quantity"))
    hist = scd2_dim_df(spark, SF).withColumnRenamed("o_custkey", "custkey") \
        .withColumnRenamed("status", "pit_status") \
        .withColumnRenamed("custkey", "o_custkey")

    src = str(tmp_path / "pit-src")
    facts.write.parquet(src)
    stream = spark.readStream.schema(facts.schema).parquet(src)
    enriched = streaming_pit_enrich(stream, hist, key="o_custkey",
                                    time_col="l_shipdate", attr="pit_status")
    q = (enriched.writeStream.format("memory").queryName("pit")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("select * from pit").collect()}
    want = {tuple(r) for r in streaming_pit_enrich(
        facts, hist, key="o_custkey", time_col="l_shipdate",
        attr="pit_status").collect()}
    assert got == want
    assert len(got) == facts.count()
    statuses = {r[-1] for r in got}
    assert "UNKNOWN" in statuses and statuses - {"UNKNOWN"}


def test_streaming_near_dedup_matches_batch_incremental(spark, tmp_path):
    """The foreachBatch near-dup prober over the persisted minhash index
    emits exactly the pairs the batch incremental operator finds, even
    with the incoming docs split across micro-batches (per-doc signatures
    are independent, so batching cannot change the hit set)."""
    from ringo_spark.operators.dedup import (
        INGESTED_BELOW, build_minhash_index, dedup_minhash_incremental_df,
    )
    from ringo_spark.streaming.dedup import streaming_near_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus_dir = str(tmp_path / "corpus")
    os.makedirs(corpus_dir)
    (docs.where(F.col("doc_id") < INGESTED_BELOW)
     .write.parquet(f"{corpus_dir}/documents.parquet"))
    idx = build_minhash_index(spark, corpus_dir)

    src = str(tmp_path / "incoming")
    incoming = docs.where(F.col("doc_id") >= INGESTED_BELOW)
    n = incoming.count()
    half = incoming.limit(n // 2)
    half.coalesce(1).write.parquet(src)                               # batch 1
    incoming.subtract(half).coalesce(1).write.mode("append").parquet(src)  # 2

    sink = str(tmp_path / "hits")
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1).parquet(src)
    q = (stream.writeStream
         .foreachBatch(streaming_near_dedup(idx)(sink))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    hit_cols = ["doc_new", "doc_seen", "jaccard"]
    got = {tuple(r) for r in
           spark.read.parquet(sink).select(*hit_cols).collect()}
    want = {tuple(r)
            for r in dedup_minhash_incremental_df(spark, SF).collect()}
    assert got == want and want

    # idempotency (r06 ADVICE): a micro-batch retry re-runs the prober
    # with the SAME batch_id — the per-batch overwrite partition must
    # replace, not duplicate, that batch's hit rows
    replay = spark.read.parquet(src).limit(n // 2)
    streaming_near_dedup(idx)(sink)(replay, batch_id=0)
    streaming_near_dedup(idx)(sink)(replay, batch_id=0)
    total = spark.read.parquet(sink).count()
    distinct = (spark.read.parquet(sink)
                .dropDuplicates(hit_cols + ["batch_id"]).count())
    assert total == distinct


def test_streaming_span_dedup_matches_batch(spark, tmp_path):
    """The foreachBatch duplicate-SPAN removal twin (VERDICT r12 item
    6): replay the incoming cohort as THREE micro-batches in ascending
    doc-id ranges (the documented ordering contract — the canonical
    owner is the globally least (doc_id, i), so unlike the commutative
    drift/anomaly twins a hash-split would be wrong BY DESIGN) over the
    persisted corpus chunk-hash index.  The union of per-batch outputs
    must be BIT-EQUAL to the batch doc_dedup_spans_df restricted to the
    streamed docs — including chunks duplicated ACROSS micro-batches,
    which only work because each batch's hashes are appended to the
    index before the next trigger."""
    import shutil

    from ringo_spark.operators.dedup import (
        INGESTED_BELOW, doc_dedup_spans_df,
    )
    from ringo_spark.streaming.dedup import (
        build_chunk_hash_index, streaming_span_dedup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "chunkidx")
    build_chunk_hash_index(docs.where(F.col("doc_id") < INGESTED_BELOW),
                           idx)

    incoming = docs.where(F.col("doc_id") >= INGESTED_BELOW)
    ids = sorted(r.doc_id for r in incoming.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    ranges = [F.col("doc_id") < cuts[0],
              (F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1]),
              F.col("doc_id") >= cuts[1]]
    src = str(tmp_path / "span-src")
    os.makedirs(src)
    for i, cond in enumerate(ranges):          # ascending ranges, in order
        tmp = str(tmp_path / f"spanstage{i}")
        incoming.where(cond).coalesce(1).write.parquet(tmp)
        f = next(x for x in os.listdir(tmp) if x.endswith(".parquet"))
        shutil.copy(os.path.join(tmp, f),
                    os.path.join(src, f"{i:02d}.parquet"))

    sink = str(tmp_path / "cleaned")
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1).parquet(src)
    q = (stream.writeStream
         .foreachBatch(streaming_span_dedup(idx)(sink))
         .option("checkpointLocation", str(tmp_path / "ckpt-span"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    cols = ["doc_id", "n_chunks", "n_removed", "cleaned_text"]
    got = sorted(tuple(r) for r in
                 spark.read.parquet(sink).select(*cols).collect())
    want = sorted(tuple(r) for r in
                  doc_dedup_spans_df(spark, SF)
                  .where(F.col("doc_id") >= INGESTED_BELOW)
                  .select(*cols).collect())
    assert got == want and len(want) > 0
    # the equality is non-vacuous only if some removal crosses a
    # micro-batch boundary: a doc in the last range must have lost a
    # chunk whose canonical copy lives before cuts[1]
    by_id = dict((r[0], r[2]) for r in want)
    assert any(n > 0 for i, n in by_id.items() if i >= cuts[1])

    # idempotency: a retried micro-batch overwrites its own partition,
    # and the index re-append cannot change any verdict (distinct set)
    replay = spark.read.parquet(os.path.join(src, "00.parquet"))
    streaming_span_dedup(idx)(sink)(replay, batch_id=0)
    streaming_span_dedup(idx)(sink)(replay, batch_id=0)
    total = spark.read.parquet(sink).select(*cols).collect()
    assert sorted(tuple(r) for r in total) == want


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """The built-in session_window operator's streaming claim: the SAME
    aggregation runs as a watermarked streaming query (state-store
    session merge, append mode) and — with availableNow draining
    everything past the watermark — produces exactly the batch result."""
    from ringo_spark.operators.session import (
        SESSION_GAP_SECONDS, sessionize_native_df,
    )

    cat = load_catalog(spark, SF, [EVENTS])
    src = str(tmp_path / "sess-src")
    ev = (cat["events"]
          .select("user_id",
                  F.timestamp_seconds(F.unix_timestamp("ts")).alias("t"),
                  F.col("value").cast("decimal(18,2)").alias("value")))
    # append mode emits a session only once the watermark passes its end;
    # the session holding the globally-latest event would never close, so
    # a far-future sentinel row (its own never-emitted session) advances
    # the watermark past every real session
    mx = ev.agg(F.max("t")).collect()[0][0]
    import decimal

    sentinel = spark.createDataFrame(
        [(-999, mx, decimal.Decimal("0.00"))],
        "user_id long, t timestamp, value decimal(18,2)") \
        .select("user_id",
                (F.col("t") + F.expr(f"INTERVAL {10 * SESSION_GAP_SECONDS} "
                                     "SECONDS")).alias("t"), "value")
    ev.unionByName(sentinel).write.parquet(src)
    stream = (spark.readStream.schema("user_id long, t timestamp, "
                                      "value decimal(18,2)").parquet(src)
              .withWatermark("t", "0 seconds"))
    sw = F.session_window("t", f"{SESSION_GAP_SECONDS} seconds")
    rolled = (stream.groupBy("user_id", sw.alias("sw"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum("value").cast("double").alias("value_sum"))
              .select("user_id",
                      F.unix_timestamp("sw.start").alias("session_start_sec"),
                      F.unix_timestamp("sw.end").alias("session_end_sec"),
                      "n_events", "value_sum"))
    q = (rolled.writeStream.format("memory").queryName("sess")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.sql("select * from sess").collect()
           if r.user_id != -999}
    want = {tuple(r) for r in sessionize_native_df(spark, SF).collect()}
    assert got == want and want


def test_streaming_append_crash_between_write_and_pointer_flip(
        spark, tmp_path, monkeypatch):
    """Crash-injected end-to-end proof that the streaming story finishes
    in the same atomic table as batch (VERDICT r06 item 6): a micro-batch
    append is killed AFTER its immutable version dir is written but
    BEFORE the manifest pointer flips.  Readers must still see the
    previous complete snapshot (no torn read), the inflight journal must
    prove the append never published (retry-safe), and restarting the
    stream from the same checkpoint must replay the batch and heal to
    the exact batch-equivalent totals."""
    import json as _json
    import os as _os

    cat = load_catalog(spark, SF, [EVENTS])
    src = str(tmp_path / "src")
    n = cat["events"].count()
    half = cat["events"].limit(n // 2)
    half.coalesce(1).write.parquet(src)
    cat["events"].subtract(half).coalesce(1).write.mode("append").parquet(src)

    eng = Engine(spark, EVENTS_ENV, str(tmp_path / "wh"))
    eng.load_sources(SF)
    fact_table = "fact_events_by_minute"

    # crash at the pointer flip itself (the manifest os.replace), after
    # the data is durable: with the r08 CAS flow the version dir is
    # promoted from its stage name INSIDE the locked publish, so this is
    # the first instant a version dir exists unpublished — the same
    # crash point the old publish-call injection modeled
    import ringo_spark.engine as engmod

    real_replace = _os.replace

    def crashing_replace(srcp, dstp):
        if dstp.endswith(fact_table + ".manifest.json"):
            cur = (_json.load(open(dstp))["version"]
                   if _os.path.exists(dstp) else 0)
            if cur == 1:
                raise RuntimeError("injected crash before pointer flip")
        return real_replace(srcp, dstp)

    monkeypatch.setattr(engmod.os, "replace", crashing_replace)

    pipe = StreamingPipeline(eng, EVENTS_FACT)
    stream = (spark.readStream.schema(_events_schema(spark))
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = pipe.start(stream, str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(180)
        raise AssertionError("query should have failed")

    # no torn read: the live snapshot is batch 1, complete
    m = _json.load(open(_os.path.join(eng.storage,
                                      fact_table + ".manifest.json")))
    assert m["version"] == 1
    batch1 = eng.read_table(fact_table).agg(
        F.sum("event_count")).collect()[0][0]
    assert batch1 == n // 2
    # the orphan version dir exists but is unreferenced
    assert _os.path.isdir(_os.path.join(eng.storage, f"{fact_table}__v2"))
    # the crashed batch's tag never published either -> the replay is
    # provably not a duplicate, and the retry appends it
    assert len(m["batch_tags"]) == 1

    # recovery: same checkpoint, crash removed -> the failed micro-batch
    # replays, reclaims its orphan dir, flips the pointer
    monkeypatch.setattr(engmod.os, "replace", real_replace)
    q2 = StreamingPipeline(eng, EVENTS_FACT).start(
        stream, str(tmp_path / "ckpt"))
    q2.awaitTermination(180)
    m = _json.load(open(_os.path.join(eng.storage,
                                      fact_table + ".manifest.json")))
    assert m["version"] == 2
    assert eng.read_table(fact_table).agg(
        F.sum("event_count")).collect()[0][0] == n
    assert len(m["batch_tags"]) == 2


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """The stateful streaming funnel twin (r09 VERDICT item 8): replay
    the fixture corpus as THREE event-time-ordered micro-batches
    (maxFilesPerTrigger=1) through applyInPandasWithState and assert
    the aggregated result row-equals the batch event_funnel_df — same
    step counts, same conversions.  Also pins the ordering contract's
    mechanics: progress rows are emitted per (user, batch) and
    steps_reached is monotone across a user's rows."""
    from ringo_spark.operators.session import FUNNEL_STEPS, event_funnel_df
    from ringo_spark.streaming.funnel import (
        funnel_counts, streaming_event_funnel,
    )

    cat = load_catalog(spark, SF, [EVENTS])
    ev = (cat["events"]
          .where(F.col("user_id").isNotNull()
                 & F.col("event_type").isin(*FUNNEL_STEPS))
          .select("user_id",
                  F.timestamp_seconds(F.unix_timestamp("ts")).alias("ts"),
                  "event_type"))
    # three event-time terciles, written as one file each with
    # lexicographically ordered names so the file source replays them
    # in event-time order (the documented exactness contract)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    import datetime as _dt

    span = (hi - lo).total_seconds()
    cuts = [lo + _dt.timedelta(seconds=span / 3),
            lo + _dt.timedelta(seconds=2 * span / 3)]
    parts = [ev.where(F.col("ts") < cuts[0]),
             ev.where((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
             ev.where(F.col("ts") >= cuts[1])]
    src = str(tmp_path / "funnel-src")
    os.makedirs(src)
    import shutil

    for i, p in enumerate(parts):
        tmp = str(tmp_path / f"stage{i}")
        p.coalesce(1).write.parquet(tmp)
        f = next(x for x in os.listdir(tmp) if x.endswith(".parquet"))
        shutil.copy(os.path.join(tmp, f), os.path.join(src, f"{i:02d}.parquet"))

    stream = (spark.readStream
              .schema("user_id long, ts timestamp, event_type string")
              .option("maxFilesPerTrigger", 1)
              .parquet(src))
    updates = streaming_event_funnel(stream, watermark_delay=None)
    q = (updates.writeStream.format("memory").queryName("funnel_updates")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got_updates = spark.sql("select * from funnel_updates")
    # monotone progress per user across batches
    import collections

    seqs = collections.defaultdict(list)
    for r in got_updates.orderBy("user_id").collect():
        seqs[r.user_id].append(r.steps_reached)
    assert seqs and all(s == sorted(s) for s in seqs.values())

    got = {tuple(r) for r in funnel_counts(got_updates).collect()}
    want = {tuple(r) for r in event_funnel_df(spark, SF).collect()}
    assert got == want and len(want) == len(FUNNEL_STEPS)


def test_streaming_funnel_state_expires_on_watermark(spark, tmp_path):
    """Funnel EventTimeTimeout: once the watermark passes a user's last
    activity + FUNNEL_IDLE_EXPIRE_SECONDS the key emits its final
    progress row and its state is REMOVED (store stays O(active users));
    a recent user's state survives."""
    import datetime as dt

    from ringo_spark.streaming.funnel import streaming_event_funnel

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    # user 1: view@0 -> click@100, then idle forever
    # user 2: view@50_000 -> watermark 49_940 passes user 1's
    #         100 + 21_600 horizon; user 2's own horizon is far ahead
    rows = [(1, at(0), "view"), (1, at(100), "click"),
            (2, at(50_000), "view")]
    src = str(tmp_path / "funnel_expiry_src")
    spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string") \
        .coalesce(1).write.parquet(src)

    stream = (spark.readStream
              .schema("user_id long, ts timestamp, event_type string")
              .parquet(src))
    q = (streaming_event_funnel(stream, watermark_delay="60 seconds")
         .writeStream.format("memory").queryName("funnel_expiry")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_fx"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    got = {tuple(r) for r in spark.sql("select * from funnel_expiry").collect()}
    # user 1's final progress (2 steps, strict view<click chain) was
    # emitted — in-batch and again by the timeout flush
    assert (1, 2, base, base + 100, None) in got
    # user 2 reached step 1 only
    assert (2, 1, base + 50_000, None, None) in got
    # state store retains only the still-active key (user 2)
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 1


def test_streaming_retention_matches_batch(spark, tmp_path):
    """The stateful streaming retention twin: replay the fixture events
    as three event-time-ordered micro-batches and assert the aggregated
    cohort matrix row-equals the batch retention_cohorts_df.  Also pins
    that each (user, cohort, offset) cell is emitted exactly once
    across the whole stream (the state's job)."""
    from ringo_spark.operators.session import retention_cohorts_df
    from ringo_spark.streaming.retention import (
        retention_counts, streaming_retention,
    )

    cat = load_catalog(spark, SF, [EVENTS])
    ev = (cat["events"]
          .where(F.col("user_id").isNotNull())
          .select("user_id",
                  F.timestamp_seconds(F.unix_timestamp("ts")).alias("ts")))
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    import datetime as _dt

    span = (hi - lo).total_seconds()
    cuts = [lo + _dt.timedelta(seconds=span / 3),
            lo + _dt.timedelta(seconds=2 * span / 3)]
    parts = [ev.where(F.col("ts") < cuts[0]),
             ev.where((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
             ev.where(F.col("ts") >= cuts[1])]
    src = str(tmp_path / "ret-src")
    os.makedirs(src)
    import shutil

    for i, p in enumerate(parts):
        tmp = str(tmp_path / f"rstage{i}")
        p.coalesce(1).write.parquet(tmp)
        f = next(x for x in os.listdir(tmp) if x.endswith(".parquet"))
        shutil.copy(os.path.join(tmp, f), os.path.join(src, f"{i:02d}.parquet"))

    stream = (spark.readStream
              .schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1)
              .parquet(src))
    updates = streaming_retention(stream, watermark_delay=None)
    q = (updates.writeStream.format("memory").queryName("ret_updates")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "rckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got_updates = spark.sql("select * from ret_updates")
    # exactly-once per cell: no (user, cohort, offset) appears twice
    n = got_updates.count()
    assert n == got_updates.distinct().count() and n > 0

    got = {tuple(r) for r in retention_counts(got_updates).collect()}
    want = {tuple(r) for r in retention_cohorts_df(spark, SF).collect()}
    assert got == want and want


def test_streaming_retention_state_expires_on_watermark(spark, tmp_path):
    """Retention EventTimeTimeout: a user idle past
    RETENTION_IDLE_EXPIRE_WEEKS is dropped from the state store (their
    cells were already emitted on sight — nothing to flush); a recent
    user's state survives."""
    import datetime as dt

    from ringo_spark.streaming.retention import streaming_retention

    t0 = dt.datetime(2024, 1, 1)
    wk = 604800
    rows = [(1, t0), (1, t0 + dt.timedelta(seconds=2 * wk)),
            (2, t0 + dt.timedelta(seconds=20 * wk))]
    src = str(tmp_path / "ret_expiry_src")
    spark.createDataFrame(rows, "user_id long, ts timestamp") \
        .coalesce(1).write.parquet(src)

    stream = (spark.readStream
              .schema("user_id long, ts timestamp").parquet(src))
    q = (streaming_retention(stream, watermark_delay="60 seconds")
         .writeStream.format("memory").queryName("ret_expiry")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_rx"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.user_id, r.week_offset)
           for r in spark.sql("select * from ret_expiry").collect()}
    assert got == {(1, 0), (1, 2), (2, 0)}
    # user 1 (idle since week 2, watermark at week 20) was expired
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 1


def test_streaming_anomaly_moments_match_batch(spark, tmp_path):
    """The stateful streaming moments twin (VERDICT r10 item 5): replay
    the events corpus as THREE micro-batches through
    applyInPandasWithState with incremental integer (n, Σv·100, Σv²·10⁴)
    per-event_type state, then score the corpus against the streamed
    final moments — the result must be BIT-EQUAL to the batch
    anomaly_zscore_df.  Also pins commutativity: the three batches are
    split by event_id hash, NOT event time, because moment accumulation
    needs no ordering contract."""
    import shutil

    from ringo_spark.operators.relational import anomaly_zscore_df
    from ringo_spark.streaming.anomaly import (
        moment_scores, streaming_anomaly_moments,
    )

    cat = load_catalog(spark, SF, [EVENTS])
    ev = (cat["events"]
          .select("event_id", "event_type",
                  F.timestamp_seconds(F.unix_timestamp("ts")).alias("ts"),
                  F.col("value").cast("double").alias("value")))
    src = str(tmp_path / "anomaly-src")
    os.makedirs(src)
    for i in range(3):
        tmp = str(tmp_path / f"stage{i}")
        (ev.where(F.pmod(F.xxhash64("event_id"), F.lit(3)) == i)
         .coalesce(1).write.parquet(tmp))
        f = next(x for x in os.listdir(tmp) if x.endswith(".parquet"))
        shutil.copy(os.path.join(tmp, f), os.path.join(src, f"{i:02d}.parquet"))

    stream = (spark.readStream
              .schema("event_id long, event_type string, ts timestamp, "
                      "value double")
              .option("maxFilesPerTrigger", 1)
              .parquet(src))
    q = (streaming_anomaly_moments(stream, watermark_delay=None)
         .writeStream.format("memory").queryName("anomaly_moments")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_am"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    updates = spark.sql("select * from anomaly_moments")
    # running totals are monotone in n per key (one emission per touched
    # batch, each folding new rows in)
    per_key = {r.event_type: sorted(x.n for x in updates
               .where(F.col("event_type") == r.event_type).collect())
               for r in updates.select("event_type").distinct().collect()}
    assert per_key and all(ns == sorted(set(ns)) for ns in per_key.values())

    got = {tuple(r) for r in
           moment_scores(ev, updates).collect()}
    want = {tuple(r) for r in anomaly_zscore_df(spark, SF).collect()}
    assert got == want and len(want) > 0


def test_streaming_anomaly_state_expires_on_watermark(spark, tmp_path):
    """Moments EventTimeTimeout: a key idle past
    ANOMALY_IDLE_EXPIRE_SECONDS is dropped from the state store (totals
    were emitted on every update, so expiry loses nothing already
    reported); a recent key's state survives."""
    import datetime as dt

    from ringo_spark.streaming.anomaly import streaming_anomaly_moments

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    # 'alpha': two values at t=0/100, then idle forever
    # 'beta': one value at t=50_000 — the watermark (49_940) passes
    #         alpha's 100 + 21_600 horizon; beta's horizon is far ahead
    rows = [(1, "alpha", at(0), 10.0), (2, "alpha", at(100), 30.0),
            (3, "beta", at(50_000), 5.0)]
    src = str(tmp_path / "anomaly_expiry_src")
    spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    ).coalesce(1).write.parquet(src)

    stream = (spark.readStream
              .schema("event_id long, event_type string, ts timestamp, "
                      "value double")
              .parquet(src))
    q = (streaming_anomaly_moments(stream, watermark_delay="60 seconds")
         .writeStream.format("memory").queryName("anomaly_expiry")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_ax"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.event_type, r.n, r.s1_cents, r.s2_tt)
           for r in spark.sql("select * from anomaly_expiry").collect()}
    assert ("alpha", 2, 4000, str(1000**2 + 3000**2)) in got
    assert ("beta", 1, 500, str(500**2)) in got
    # state store retains only the still-active key (beta)
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 1


def test_streaming_ema_matches_batch(spark, tmp_path):
    """The stateful streaming EMA twin: replay the events corpus as
    THREE event-time-ordered micro-batches through
    applyInPandasWithState (one double of state per user) and assert
    the collapsed result is BIT-EQUAL to the batch user_value_ema_df —
    including users whose EMA is null (a NULL value poisons the fold,
    sticky, exactly as in SQL)."""
    import datetime as _dt
    import shutil

    from ringo_spark.operators.tpch import user_value_ema_df
    from ringo_spark.streaming.ema import ema_snapshot, streaming_user_value_ema

    cat = load_catalog(spark, SF, [EVENTS])
    ev = (cat["events"]
          .select("user_id", "event_id",
                  F.timestamp_seconds(F.unix_timestamp("ts")).alias("ts"),
                  F.col("value").cast("double").alias("value")))
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo).total_seconds()
    cuts = [lo + _dt.timedelta(seconds=span / 3),
            lo + _dt.timedelta(seconds=2 * span / 3)]
    parts = [ev.where(F.col("ts") < cuts[0]),
             ev.where((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
             ev.where(F.col("ts") >= cuts[1])]
    src = str(tmp_path / "ema-src")
    os.makedirs(src)
    for i, p in enumerate(parts):
        tmp = str(tmp_path / f"emastage{i}")
        p.coalesce(1).write.parquet(tmp)
        f = next(x for x in os.listdir(tmp) if x.endswith(".parquet"))
        shutil.copy(os.path.join(tmp, f), os.path.join(src, f"{i:02d}.parquet"))

    stream = (spark.readStream
              .schema("user_id long, event_id long, ts timestamp, "
                      "value double")
              .option("maxFilesPerTrigger", 1)
              .parquet(src))
    q = (streaming_user_value_ema(stream, watermark_delay=None)
         .writeStream.format("memory").queryName("ema_updates")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_ema"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    updates = spark.sql("select * from ema_updates")
    got = {tuple(r) for r in ema_snapshot(updates).collect()}
    want = {tuple(r) for r in user_value_ema_df(spark, SF).collect()}
    assert got == want and len(want) > 0
    # the testdata has no NULL values, so the sticky-null fold path is
    # exercised by test_streaming_ema_state_expires_on_watermark's
    # injected null-value user instead


def test_streaming_ema_state_expires_on_watermark(spark, tmp_path):
    """EMA EventTimeTimeout: a user idle past EMA_IDLE_EXPIRE_SECONDS
    is dropped from the state store (running EMA was emitted on every
    update); a recent user's state survives."""
    import datetime as dt

    from ringo_spark.operators.tpch import EMA_ALPHA
    from ringo_spark.streaming.ema import streaming_user_value_ema

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [(1, 10, at(0), 10.0), (1, 11, at(100), 20.0),
            (2, 12, at(50_000), 5.0),
            # user 3: a NULL value mid-sequence poisons the fold, sticky
            # (null*(1-a) is null in SQL) - the kernel must agree
            (3, 13, at(50_000), 2.0), (3, 14, at(50_100), None),
            (3, 15, at(50_200), 9.0)]
    src = str(tmp_path / "ema_expiry_src")
    spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    ).coalesce(1).write.parquet(src)

    stream = (spark.readStream
              .schema("user_id long, event_id long, ts timestamp, "
                      "value double")
              .parquet(src))
    q = (streaming_user_value_ema(stream, watermark_delay="60 seconds")
         .writeStream.format("memory").queryName("ema_expiry")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_emax"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    e1 = (10.0 * EMA_ALPHA) * (1 - EMA_ALPHA) + 20.0 * EMA_ALPHA
    got = {(r.user_id, r.n_events, r.ema, r.ema_is_null)
           for r in spark.sql("select * from ema_expiry").collect()}
    assert (1, 2, e1, False) in got
    assert (2, 1, 5.0 * EMA_ALPHA, False) in got
    # null-poisoned user: flag set, snapshot restores the SQL null
    assert any(u == 3 and n == 3 and is_null
               for (u, n, _, is_null) in got)
    from ringo_spark.streaming.ema import ema_snapshot

    snap = {(r.user_id, r.n_events, r.ema)
            for r in ema_snapshot(
                spark.sql("select * from ema_expiry")).collect()}
    assert (3, 3, None) in snap
    # state store retains only the still-active keys (users 2 and 3)
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 2


def test_streaming_drift_matches_batch(spark, tmp_path):
    """The stateful streaming drift twin (VERDICT r11 item 4): replay
    the batch cohort (doc_id >= DRIFT_BASELINE_BELOW) as THREE
    hash-split micro-batches through applyInPandasWithState with
    incremental integer (n_batch, Σ token count) per-source state, then
    score against the baseline cohort — the result must be BIT-EQUAL to
    the batch text_quality_drift_df.  Hash-split, NOT time-split: like
    the anomaly twin, total accumulation is commutative, so no ordering
    contract exists to violate."""
    import shutil

    from ringo_spark.operators.text import (
        DRIFT_BASELINE_BELOW, text_quality_drift_df,
    )
    from ringo_spark.streaming.drift import (
        drift_scores, streaming_batch_token_totals,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    batch = (docs.where(F.col("doc_id") >= DRIFT_BASELINE_BELOW)
             .select("doc_id", "source", "text",
                     F.timestamp_seconds(F.col("doc_id")).alias("ts")))
    src = str(tmp_path / "drift-src")
    os.makedirs(src)
    for i in range(3):
        tmp = str(tmp_path / f"driftstage{i}")
        (batch.where(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == i)
         .coalesce(1).write.parquet(tmp))
        f = next(x for x in os.listdir(tmp) if x.endswith(".parquet"))
        shutil.copy(os.path.join(tmp, f), os.path.join(src, f"{i:02d}.parquet"))

    stream = (spark.readStream
              .schema("doc_id long, source string, text string, "
                      "ts timestamp")
              .option("maxFilesPerTrigger", 1)
              .parquet(src))
    q = (streaming_batch_token_totals(stream, watermark_delay=None)
         .writeStream.format("memory").queryName("drift_totals")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_drift"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    updates = spark.sql("select * from drift_totals")
    # running totals are monotone in n per source
    per_key = {r.source: sorted(x.n_batch for x in updates
               .where(F.col("source") == r.source).collect())
               for r in updates.select("source").distinct().collect()}
    assert per_key and all(ns == sorted(set(ns)) for ns in per_key.values())

    baseline = docs.where(F.col("doc_id") < DRIFT_BASELINE_BELOW)
    got = [tuple(r) for r in drift_scores(baseline, updates).collect()]
    want = [tuple(r) for r in text_quality_drift_df(spark, SF).collect()]
    assert got == want and len(want) > 0


def test_drift_null_source_round_trip(spark, tmp_path):
    """ADVICE r12: null-source docs must key the SAME '__UNKNOWN_SRC__'
    group on every side — the batch gate, its oracle, the streamed
    totals, and drift_scores' baseline aggregate — or the streamed
    verdict for them silently drops (null never joins the sentinel).
    Replays the batch cohort's totals exactly as a full stream replay
    would emit them and pins bit-equality against the batch gate on a
    corpus where one source is entirely NULL."""
    from ringo_spark.operators.text import (
        DRIFT_BASELINE_BELOW, text_quality_drift_df,
    )
    from ringo_spark.operators.textfn import tokens
    from ringo_spark.streaming.drift import drift_scores

    rows = []
    for i in range(40):                      # baseline cohort
        src = None if i % 2 == 0 else "a"
        rows.append((i, src, "w " * (10 + i % 7)))
    for i in range(40):                      # incoming batch cohort
        src = None if i % 2 == 0 else "a"
        rows.append((DRIFT_BASELINE_BELOW + i, src, "w " * (30 + i % 5)))
    docs = spark.createDataFrame(rows, "doc_id long, source string, "
                                       "text string")
    d = str(tmp_path / "nulldrift")
    docs.write.parquet(os.path.join(d, "documents.parquet"))

    want = [tuple(r) for r in text_quality_drift_df(spark, d).collect()]
    assert sorted(r[0] for r in want) == ["__UNKNOWN_SRC__", "a"]

    batch = docs.where(F.col("doc_id") >= DRIFT_BASELINE_BELOW)
    # the totals a full replay emits: same sentinel, same token counts
    updates = (batch.groupBy(
                   F.coalesce("source", F.lit("__UNKNOWN_SRC__"))
                   .alias("source"))
               .agg(F.count("*").alias("n_batch"),
                    F.sum(F.size(tokens(F.col("text"))).cast("long"))
                    .alias("sn")))
    baseline = docs.where(F.col("doc_id") < DRIFT_BASELINE_BELOW)
    got = [tuple(r) for r in drift_scores(baseline, updates).collect()]
    assert got == want


def test_streaming_drift_state_expires_on_watermark(spark, tmp_path):
    """Totals EventTimeTimeout: a source idle past
    DRIFT_IDLE_EXPIRE_SECONDS is dropped from the state store (totals
    were emitted on every update); a recent source's state survives."""
    import datetime as dt

    from ringo_spark.streaming.drift import streaming_batch_token_totals

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    # 'webA': two docs at t=0/100, then idle forever; 'webB': one doc at
    # t=50_000 — the watermark (49_940) passes webA's 100+21_600 horizon
    rows = [(1, "webA", "one two three", at(0)),
            (2, "webA", "four five", at(100)),
            (3, "webB", "six", at(50_000))]
    src = str(tmp_path / "drift_expiry_src")
    spark.createDataFrame(
        rows, "doc_id long, source string, text string, ts timestamp"
    ).coalesce(1).write.parquet(src)

    stream = (spark.readStream
              .schema("doc_id long, source string, text string, "
                      "ts timestamp")
              .parquet(src))
    q = (streaming_batch_token_totals(stream, watermark_delay="60 seconds")
         .writeStream.format("memory").queryName("drift_expiry")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_driftx"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.source, r.n_batch, r.sn)
           for r in spark.sql("select * from drift_expiry").collect()}
    assert ("webA", 2, 5) in got
    assert ("webB", 1, 1) in got
    # state store retains only the still-active source (webB)
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 1


def test_streaming_cms_vocab_matches_batch(spark, tmp_path):
    """The mergeable-sketch contract for the streaming CMS twin: replay
    the corpus as three HASH-split micro-batches (CMS merge is cell-wise
    counter addition — commutative, so unlike the span twin NO ordering
    contract exists and a hash split is the honest replay), merge the
    per-batch partial sketches, and the estimates must be BIT-EQUAL to
    one single-pass count_min_sketch over the whole corpus.  Exact probe
    counts must equal the batch groupBy, and every probe must sit inside
    the CMS guarantee.  A retried micro-batch must replace its own
    partial, not double it."""
    import shutil

    from ringo_spark.operators.text import CMS_CONFIDENCE, CMS_EPS, CMS_SEED
    from ringo_spark.operators.textfn import tokens
    from ringo_spark.streaming.vocab import (
        cms_vocab_snapshot, streaming_cms_vocab,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    top = (toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
           .orderBy(F.desc("c"), F.asc("token")).limit(5).collect())
    probes = [r.token for r in top]
    want_exact = {r.token: r.c for r in top}

    src = str(tmp_path / "cms-src")
    os.makedirs(src)
    for i in range(3):                       # hash split, any order is fine
        part = docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == i)
        stage = str(tmp_path / f"cmsstage{i}")
        part.coalesce(1).write.parquet(stage)
        f = next(x for x in os.listdir(stage) if x.endswith(".parquet"))
        shutil.copy(os.path.join(stage, f), os.path.join(src, f"{i:02d}.parquet"))

    sink = str(tmp_path / "cms-sink")
    writer = streaming_cms_vocab(probes)
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1).parquet(src)
    q = (stream.writeStream.foreachBatch(writer(sink))
         .option("checkpointLocation", str(tmp_path / "ckpt-cms"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    snap = {r.token: r for r in
            cms_vocab_snapshot(spark, sink, probes).collect()}
    assert set(snap) == set(probes)

    # batch single-pass sketch over the SAME corpus: estimates bit-equal
    agg = toks.agg(F.count(F.lit(1)).alias("n"),
                   F.count_min_sketch("token", F.lit(CMS_EPS),
                                      F.lit(CMS_CONFIDENCE),
                                      F.lit(CMS_SEED)).alias("s")).first()
    jvm = spark._jvm
    batch_cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(agg.s)))
    for t in probes:
        assert snap[t].exact_count == want_exact[t]
        assert snap[t].cms_estimate == batch_cms.estimateCount(t)
        assert snap[t].within_cms_bounds
        assert snap[t].exact_count <= snap[t].cms_estimate

    # retry idempotency: re-running one micro-batch's writer replaces
    # its batch_id partition, so the snapshot is unchanged
    batch0 = docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0)
    writer(sink)(batch0, 0)
    again = {r.token: tuple(r) for r in
             cms_vocab_snapshot(spark, sink, probes).collect()}
    assert again == {t: tuple(snap[t]) for t in probes}

    # an EMPTY micro-batch (idle trigger) writes a null sketch + zero
    # counts; the snapshot must skip it, not crash or drift
    writer(sink)(docs.where(F.lit(False)), 9)
    still = {r.token: tuple(r) for r in
             cms_vocab_snapshot(spark, sink, probes).collect()}
    assert still == again

    # compaction folds all partials into one BASE row (negative batch
    # id — trigger retries can never collide with it); the snapshot
    # stays bit-identical
    from ringo_spark.streaming.vocab import compact_cms_sink

    compact_cms_sink(spark, sink, 9)
    compacted = {r.token: tuple(r) for r in
                 cms_vocab_snapshot(spark, sink, probes).collect()}
    assert compacted == again

    # THE r16 review scenario: a checkpoint-replayed trigger re-executes
    # a FOLDED batch after compaction — the recreated partial must be
    # ignored (its contribution already lives in the base), never
    # double-counted, and it must not destroy the base
    writer(sink)(batch0, 0)
    writer(sink)(docs.where(F.lit(False)), 9)   # folded tail id too
    retried = {r.token: tuple(r) for r in
               cms_vocab_snapshot(spark, sink, probes).collect()}
    assert retried == again

    # deferred reclamation: the NEXT compaction call deletes the folded
    # partials (incl. retry leftovers) and leaves base + nothing else
    compact_cms_sink(spark, sink, 9)
    ids = {r.batch_id for r in spark.read
           .option("mergeSchema", "true").parquet(sink)
           .select("batch_id").distinct().collect()}
    assert ids == {-10}
    assert {r.token: tuple(r) for r in
            cms_vocab_snapshot(spark, sink, probes).collect()} == again


def test_streaming_weighted_reservoir_matches_batch(spark, tmp_path):
    """The A-ES reservoir twin: replay the corpus as three HASH-split
    micro-batches (keys are per-doc functions, so top-k-of-union
    decomposes — merge is commutative and a hash split is the honest
    replay), and the final reservoir must be BIT-EQUAL to the batch
    sample_weighted_df over the whole corpus.  A retried micro-batch
    must leave the reservoir unchanged."""
    import shutil

    from ringo_spark.operators.sampling import sample_weighted_df
    from ringo_spark.streaming.sampling import (
        reservoir_snapshot, streaming_weighted_reservoir,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "res-src")
    os.makedirs(src)
    for i in range(3):
        part = docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == i)
        stage = str(tmp_path / f"resstage{i}")
        part.coalesce(1).write.parquet(stage)
        f = next(x for x in os.listdir(stage) if x.endswith(".parquet"))
        shutil.copy(os.path.join(stage, f), os.path.join(src, f"{i:02d}.parquet"))

    res = str(tmp_path / "reservoir")
    updater = streaming_weighted_reservoir()
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1).parquet(src)
    q = (stream.writeStream.foreachBatch(updater(res))
         .option("checkpointLocation", str(tmp_path / "ckpt-res"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = [tuple(r) for r in reservoir_snapshot(spark, res).collect()]
    want = [tuple(r) for r in sample_weighted_df(spark, SF).collect()]
    assert got == want and len(got) > 0
    # non-vacuous merge: the winning set must span all three splits
    assert {d % 3 for d, _, _ in got} == {0, 1, 2}

    # retry idempotency: re-running one micro-batch's updater (same
    # batch_id, same rows) rewrites its version dir and re-flips the
    # pointer to a reservoir with identical content
    updater(res)(docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == 2), 2)
    again = [tuple(r) for r in reservoir_snapshot(spark, res).collect()]
    assert again == got


def test_compact_cms_sink_crash_recovery(spark, tmp_path, monkeypatch):
    """ADVICE r13: compaction must land the merged row DURABLY before
    deleting the folded partials.  Inject crashes (a) before any
    partial delete and (b) between the deletes — in both windows no
    contribution is permanently lost: a snapshot mid-window never
    double-counts (the staging dir is underscore-hidden), and the
    rerun finishes the compaction to the identical snapshot."""
    import shutil

    from ringo_spark.streaming.vocab import (
        cms_vocab_snapshot, compact_cms_sink, streaming_cms_vocab,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    probes = [r.token for r in docs.select(
        F.explode(F.split(F.lower("text"), r"\W+")).alias("token"))
        .groupBy("token").count()
        .orderBy(F.desc("count"), F.asc("token")).limit(3).collect()]
    sink = str(tmp_path / "cms-crash")
    writer = streaming_cms_vocab(probes)
    for i in range(3):
        writer(sink)(docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == i), i)
    want = {r.token: tuple(r) for r in
            cms_vocab_snapshot(spark, sink, probes).collect()}

    real_rmtree = shutil.rmtree
    crash_after = {"left": 0}

    def crashy(path, *a, **kw):
        if "batch_id=" in str(path):
            if crash_after["left"] <= 0:
                raise RuntimeError("injected crash in partial delete")
            crash_after["left"] -= 1
        return real_rmtree(path, *a, **kw)

    # window (a): staging complete, no partial deleted yet
    monkeypatch.setattr(shutil, "rmtree", crashy)
    with pytest.raises(RuntimeError, match="injected"):
        compact_cms_sink(spark, sink, 2)
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    assert os.path.isdir(os.path.join(sink, "_compact_staging"))
    mid = {r.token: tuple(r) for r in
           cms_vocab_snapshot(spark, sink, probes).collect()}
    assert mid == want            # staging invisible: no double count

    # window (b): the NEXT call's deferred reclamation crashes after
    # deleting ONE folded partial — the published base still holds
    # every contribution, so nothing is lost
    crash_after["left"] = 1
    monkeypatch.setattr(shutil, "rmtree", crashy)
    with pytest.raises(RuntimeError, match="injected"):
        compact_cms_sink(spark, sink, 2)
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    assert {r.token: tuple(r) for r in
            cms_vocab_snapshot(spark, sink, probes).collect()} == want

    compact_cms_sink(spark, sink, 2)     # clean rerun reclaims the rest
    got = {r.token: tuple(r) for r in
           cms_vocab_snapshot(spark, sink, probes).collect()}
    assert got == want
    ids = {r.batch_id for r in spark.read
           .option("mergeSchema", "true").parquet(sink)
           .select("batch_id").distinct().collect()}
    assert ids == {-3}
    assert not os.path.isdir(os.path.join(sink, "_compact_staging"))


def test_reservoir_version_dirs_are_garbage_collected(spark, tmp_path):
    """ADVICE r13 + r17 review: the reservoir sink must not grow
    O(k x batches), but unreachable version dirs are removed only past
    the kernel's liveness age — an immediate delete raced concurrent
    sessions sharing the sink root (and a retried batch deleted the
    genuinely-previous version).  Recent dirs survive; aged ones are
    collected on the next flip; content is unaffected either way."""
    import time

    from ringo_spark import index_lifecycle as _ilc
    from ringo_spark.operators.sampling import sample_weighted_df
    from ringo_spark.streaming.sampling import (
        reservoir_snapshot, streaming_weighted_reservoir,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    res = str(tmp_path / "res-gc")
    updater = streaming_weighted_reservoir()
    for i in range(3):
        updater(res)(docs.where(F.pmod(F.col("doc_id"), F.lit(4)) == i), i)
    # liveness window: nothing is deleted while dirs are fresh
    assert {d for d in os.listdir(res) if d.startswith("v")} \
        == {"v0", "v1", "v2"}
    # age everything past the window; the next flip collects the
    # unreachable v0/v1 but keeps v2 (just-superseded, in-flight cover)
    aged = time.time() - _ilc.GC_MIN_AGE_SECONDS - 10
    for d in os.listdir(res):
        if d.startswith("v"):
            os.utime(os.path.join(res, d), (aged, aged))
    updater(res)(docs.where(F.pmod(F.col("doc_id"), F.lit(4)) == 3), 3)
    vdirs = {d for d in os.listdir(res) if d.startswith("v")}
    assert vdirs == {"v2", "v3"}, vdirs
    got = [tuple(r) for r in reservoir_snapshot(spark, res).collect()]
    want = [tuple(r) for r in sample_weighted_df(spark, SF).collect()]
    assert got == want


def test_registered_streaming_rows_rerun_stable(spark):
    """The two registered streaming-state rows (r14): the reservoir row
    is BIT-EQUAL to the batch sample_weighted operator (that is why it
    shares its oracle), the CMS row's exact counts equal the batch
    groupBy with bounds TRUE, and a second invocation (re-replaying
    the same batches into the same tagged sinks) returns identical
    results — the idempotence the driver's rerun depends on."""
    from ringo_spark.operators.sampling import sample_weighted_df
    from ringo_spark.streaming.sampling import streaming_reservoir_df
    from ringo_spark.streaming.vocab import (
        STREAM_PROBE_N, streaming_cms_snapshot_df,
    )

    res = [tuple(r) for r in streaming_reservoir_df(spark, SF).collect()]
    want = [tuple(r) for r in sample_weighted_df(spark, SF).collect()]
    assert res == want and res
    again = [tuple(r) for r in
             streaming_reservoir_df(spark, SF).collect()]
    assert again == res

    snap = [tuple(r) for r in
            streaming_cms_snapshot_df(spark, SF).collect()]
    assert len(snap) == STREAM_PROBE_N
    assert all(ok for _, _, ok in snap)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # the probe tokens come from the operator's own tokenizer; counts
    # must equal the batch groupBy over the same kernel
    from ringo_spark.operators.textfn import tokens as _tok
    exact = {r.token: r.c for r in
             docs.select(F.explode(_tok(F.col("text"))).alias("token"))
             .groupBy("token").agg(F.count(F.lit(1)).alias("c"))
             .collect()}
    assert all(exact[t] == c for t, c, _ in snap)
    snap2 = [tuple(r) for r in
             streaming_cms_snapshot_df(spark, SF).collect()]
    assert snap2 == snap


def test_streaming_vector_ingest_probe_then_admit(spark, tmp_path):
    """The vector-ingestion twin: stream the upper half of the
    embeddings table in three ASCENDING micro-batches against an index
    of the lower half.  The union of emitted hits must equal the LSH
    pair set (same width) restricted to pairs with a streamed later
    end — corpus hits, cross-trigger stream hits, AND same-trigger
    (in-batch) pairs from the micro-batch self-join (VERDICT r14 item
    6), oriented vec_new > vec_seen.  A retried trigger must emit
    identical hits (vec_id dedupe + self-exclusion; in-batch pairs
    recompute from the batch alone) even though it physically
    re-appends, and a tombstoned corpus vector stops matching."""
    from ringo_spark.operators.deletion import tombstone_docs
    from ringo_spark.operators.dedup import dedup_embedding_lsh_df
    from ringo_spark.operators.similarity import _bucket_expr
    from ringo_spark.streaming.ann import streaming_vector_ingest

    BITS = 4
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = str(tmp_path / "vec-index")
    (emb.where(F.col("vec_id") < 250)
     .withColumn("bucket", _bucket_expr(F.col("embedding"), BITS))
     .write.partitionBy("bucket").parquet(p))

    chunks = [(250, 334), (334, 417), (417, 501)]
    sink = str(tmp_path / "vec-hits")
    ingest = streaming_vector_ingest(p, BITS)
    for i, (lo, hi) in enumerate(chunks):
        ingest(sink)(emb.where((F.col("vec_id") >= lo)
                               & (F.col("vec_id") < hi)), i)

    got = {(r.vec_new, r.vec_seen, r.cosine)
           for r in spark.read.parquet(sink)
           .select("vec_new", "vec_seen", "cosine").collect()}

    def chunk_of(v):
        for i, (lo, hi) in enumerate(chunks):
            if lo <= v < hi:
                return i
        return -1                               # corpus side

    pairs = dedup_embedding_lsh_df(spark, SF, bits=BITS).collect()
    # vec_a < vec_b in the pair table; chunks ascend with vec_id, so
    # vec_new (the later/larger end) is always vec_b
    want = {(r.vec_b, r.vec_a, r.cosine) for r in pairs
            if chunk_of(r.vec_b) >= 0
            and chunk_of(r.vec_a) <= chunk_of(r.vec_b)}
    assert got == want and got
    # non-vacuous on every clause: corpus hits, cross-trigger stream
    # hits, AND at least one same-trigger (in-batch) pair
    assert any(chunk_of(s) == -1 for _, s, _ in got)
    assert any(0 <= chunk_of(s) < chunk_of(n) for n, s, _ in got)
    same_trigger = [(r.vec_a, r.vec_b) for r in pairs
                    if chunk_of(r.vec_a) >= 0
                    and chunk_of(r.vec_a) == chunk_of(r.vec_b)]
    assert same_trigger
    got_pairs = {(n, s) for n, s, _ in got}
    assert all((b, a) in got_pairs for a, b in same_trigger)

    # retry: identical emitted hits despite the physical re-append
    ingest(sink)(emb.where((F.col("vec_id") >= 417)
                           & (F.col("vec_id") < 501)), 2)
    again = {(r.vec_new, r.vec_seen, r.cosine)
             for r in spark.read.parquet(sink)
             .select("vec_new", "vec_seen", "cosine").collect()}
    assert again == got

    # delete propagation: tombstone a corpus vector that matched; a
    # fresh probe of the last chunk forgets it
    victim = sorted(s for _, s, _ in got if chunk_of(s) == -1)[0]
    tombstone_docs(spark, p, [victim], id_col="vec_id")
    ingest(sink)(emb.where((F.col("vec_id") >= 417)
                           & (F.col("vec_id") < 501)), 2)
    after = {(r.vec_new, r.vec_seen, r.cosine)
             for r in spark.read.parquet(sink)
             .select("vec_new", "vec_seen", "cosine").collect()}
    assert after == {t for t in got if t[1] != victim} | \
        {t for t in got if chunk_of(t[0]) != 2 and t[1] == victim}

    # an EMPTY trigger (idle stream) probes nothing, admits nothing,
    # and leaves the sink readable
    ingest(sink)(emb.where(F.lit(False)), 3)
    assert spark.read.parquet(sink).where("batch_id = 3").count() == 0


def test_span_dedup_survives_checkpoint_reset(spark, tmp_path):
    """r17 review finding 1: Spark's batch_id is per-CHECKPOINT — a
    restart with a fresh checkpoint restarts at 0, which under the old
    id-keyed scheme (a) hid every previously admitted batch from the
    probe (duplicate spans leaked through uncleaned) and (b) OVERWROTE
    the prior run's batch-0 sink partition.  The content-stamped
    admission ledger pins both: a re-lineaged replay of committed
    content is a no-op, and genuinely new content probes the full
    admitted history whatever its Spark batch_id says."""
    import os

    from ringo_spark.operators.dedup import INGESTED_BELOW
    from ringo_spark.streaming.dedup import (
        build_chunk_hash_index, streaming_span_dedup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "chunkidx")
    build_chunk_hash_index(docs.where(F.col("doc_id") < INGESTED_BELOW),
                           idx)
    sink = str(tmp_path / "cleaned")
    incoming = docs.where(F.col("doc_id") >= INGESTED_BELOW)
    ids = sorted(r.doc_id for r in incoming.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    b0 = incoming.where(F.col("doc_id") < cut)
    b1 = incoming.where(F.col("doc_id") >= cut)

    clean = streaming_span_dedup(idx)(sink)
    # run 1 (checkpoint lineage A): two batches
    clean(b0, batch_id=0)
    clean(b1, batch_id=1)
    cols = ["doc_id", "n_chunks", "n_removed", "cleaned_text"]
    after_run1 = sorted(tuple(r) for r in
                        spark.read.parquet(sink).select(*cols).collect())

    # run 2 (FRESH checkpoint lineage, ids restart at 0): replays the
    # same content — must be committed no-ops, sink bit-unchanged
    clean(b0, batch_id=0)
    clean(b1, batch_id=1)
    assert sorted(tuple(r) for r in
                  spark.read.parquet(sink).select(*cols).collect()) \
        == after_run1

    # run 3 (fresh lineage again) streams NEW content whose chunks
    # duplicate run-1 material, under the colliding batch_id=0: the
    # probe must see run 1's admissions (spans removed), and run 1's
    # partitions must survive
    dup_src = b0.limit(1).collect()[0]
    new = spark.createDataFrame(
        [(900000 + dup_src.doc_id, dup_src.text)], "doc_id long, text string") \
        .withColumn("source", F.lit("restream")) \
        .withColumn("lang", F.lit("en"))
    clean(new, batch_id=0)
    out = {r.doc_id: r for r in
           spark.read.parquet(sink).select(*cols).collect()}
    # the duplicated doc lost ALL its full chunks to run-1's canonical
    assert out[900000 + dup_src.doc_id].n_removed == \
        out[900000 + dup_src.doc_id].n_chunks
    # and run 1's rows are still present, bit-identical
    still = sorted(t for t in
                   ((r.doc_id, r.n_chunks, r.n_removed, r.cleaned_text)
                    for r in out.values())
                   if t[0] < 900000)
    assert still == after_run1


def test_build_chunk_hash_index_is_build_once(spark, tmp_path):
    """r17 review finding 2: re-invoking the corpus index build as an
    idempotent setup step must NOT overwrite the chunks table (that
    erased every batch-admitted row from prior stream runs); force=True
    rebuilds, and the completeness marker never survives into a
    rewrite window."""
    import os

    from ringo_spark.operators.dedup import INGESTED_BELOW
    from ringo_spark.streaming.dedup import (
        build_chunk_hash_index, streaming_span_dedup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "chunkidx")
    sink = str(tmp_path / "cleaned")
    corpus = docs.where(F.col("doc_id") < INGESTED_BELOW)
    build_chunk_hash_index(corpus, idx)
    base_rows = spark.read.parquet(os.path.join(idx, "chunks")).count()

    # admit one streamed batch, then re-run the "ensure exists" build
    batch = docs.where(F.col("doc_id") >= INGESTED_BELOW).limit(5)
    streaming_span_dedup(idx)(sink)(batch, batch_id=0)
    admitted = spark.read.parquet(os.path.join(idx, "chunks")).count()
    assert admitted > base_rows
    build_chunk_hash_index(corpus, idx)
    assert spark.read.parquet(
        os.path.join(idx, "chunks")).count() == admitted   # untouched
    # force: an explicit rebuild starts the corpus set fresh
    build_chunk_hash_index(corpus, idx, force=True)
    assert spark.read.parquet(
        os.path.join(idx, "chunks")).count() == base_rows


def test_force_rebuild_replays_rerun_with_fresh_stamp(spark, tmp_path):
    """ADVICE r17: a force=True corpus rebuild overwrites chunks/ — a
    replay of a previously admitted batch must RE-RUN against the
    rebuilt corpus (the stale 'done' used to refuse it: its spans
    leaked through uncleaned and the batch emitted no sink output), and
    the re-run lands under a FRESH monotone stamp so no prior sink
    partition is ever reused by different content."""
    import os

    from ringo_spark import index_lifecycle as _ilc
    from ringo_spark.operators.dedup import INGESTED_BELOW
    from ringo_spark.streaming.dedup import (
        _next_stamp, build_chunk_hash_index, streaming_span_dedup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "chunkidx")
    sink = str(tmp_path / "cleaned")
    corpus = docs.where(F.col("doc_id") < INGESTED_BELOW)
    build_chunk_hash_index(corpus, idx)
    batch = docs.where(F.col("doc_id") >= INGESTED_BELOW).limit(5)
    clean = streaming_span_dedup(idx)(sink)
    clean(batch, batch_id=0)
    fp = _ilc.batch_fingerprint(batch.select("doc_id", "text"),
                                ["doc_id", "text"])
    assert _ilc.admit_state(idx, fp) == "done"
    assert os.path.isdir(os.path.join(sink, "batch_id=0"))

    build_chunk_hash_index(corpus, idx, force=True)
    # the replay is NOT refused against the rebuilt corpus...
    assert _ilc.admit_state(idx, fp) == "new"
    # ...and the archived ledger's floor keeps stamps monotone
    assert _next_stamp(idx, fp) == 1
    clean(batch, batch_id=0)
    assert _ilc.admit_state(idx, fp) == "done"
    p1 = os.path.join(sink, "batch_id=1")
    assert os.path.isdir(p1)
    # same corpus set after the rebuild => the re-run's cleaned rows
    # equal the first run's, under the new stamp partition
    cols = ["doc_id", "n_chunks", "n_removed", "cleaned_text"]
    a = sorted(tuple(r) for r in spark.read.parquet(
        os.path.join(sink, "batch_id=0")).select(*cols).collect())
    b = sorted(tuple(r) for r in
               spark.read.parquet(p1).select(*cols).collect())
    assert a == b


class _FakeState:
    """Minimal GroupState stand-in for direct kernel unit tests."""

    def __init__(self):
        self.exists = False
        self.hasTimedOut = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v, self.exists = v, True

    def remove(self):
        self._v, self.exists = None, False

    def getCurrentWatermarkMs(self):
        return 0

    def setTimeoutTimestamp(self, ms):
        pass


def test_sessionize_kernel_absorbs_cross_chunk_disorder():
    """r18 review: one micro-batch's rows for a key arrive as MULTIPLE
    Arrow chunks; per-chunk sorting left cross-chunk disorder unabsorbed
    and split sessions at chunk boundaries.  The kernel must fold the
    whole batch in event-time order regardless of chunk layout."""
    import pandas as pd

    from ringo_spark.streaming.sessionize import make_sessionize_kernel

    kern = make_sessionize_kernel(expire=False)
    # chunk 2 carries EARLIER events than chunk 1; together they form ONE
    # contiguous session (max gap 100s << 1800s)
    c1 = pd.DataFrame({"sec": [5000, 5100], "value": [1.0, 1.0]})
    c2 = pd.DataFrame({"sec": [4900, 4950], "value": [1.0, 1.0]})
    st = _FakeState()
    closed = list(kern((7,), iter([c1, c2]), st))
    assert closed == []                      # nothing closed: one session
    start, last, n, vsum = st.get
    assert (start, last, n, vsum) == (4900, 5100, 4, 4.0)

    # null values fold like SQL sum (skip), not NaN-poison
    c3 = pd.DataFrame({"sec": [5200.0], "value": [float("nan")]})
    list(kern((7,), iter([c3]), st))
    assert st.get[3] == 4.0 and st.get[2] == 5


def test_funnel_kernel_absorbs_cross_chunk_disorder():
    """r18 review: same cross-chunk fix for the funnel kernel — a
    predecessor step arriving in a LATER chunk of the same micro-batch
    must still qualify followers from earlier chunks' later events."""
    import pandas as pd

    from ringo_spark.operators.session import FUNNEL_STEPS
    from ringo_spark.streaming.funnel import make_funnel_kernel

    s1, s2 = FUNNEL_STEPS[0], FUNNEL_STEPS[1]
    kern = make_funnel_kernel(expire=False)
    # chunk 1 has step-2 at t=200; chunk 2 has step-1 at t=100.  Global
    # order qualifies step 2 (100 < 200); per-chunk order missed it.
    c1 = pd.DataFrame({"sec": [200], "event_type": [s2]})
    c2 = pd.DataFrame({"sec": [100], "event_type": [s1]})
    st = _FakeState()
    (out,) = list(kern((3,), iter([c1, c2]), st))
    assert int(out["steps_reached"].iloc[0]) >= 2
    assert st.get[0] == 100 and st.get[1] == 200


def test_pipeline_batch_replay_is_exactly_once(spark, tmp_path):
    """r18 review: foreachBatch is at-least-once, and micro-batch appends
    are unstamped (unbounded windows are refused as window stamps), so a
    retried or lineage-reset replay used to double-count the fact rows.
    The engine's batch-tag ledger (content fingerprint recorded in the
    same atomic manifest publish as the data) must make every replay a
    no-op — including a replay of the FIRST batch, which landed as a
    full write."""
    cat = load_catalog(spark, SF, [EVENTS])
    n = cat["events"].count()
    b1 = cat["events"].limit(n // 2)
    b2 = cat["events"].subtract(b1)

    eng = Engine(spark, EVENTS_ENV, str(tmp_path / "wh"))
    eng.load_sources(SF)
    pipe = StreamingPipeline(eng, EVENTS_FACT)
    table = "fact_events_by_minute"

    pipe.process_batch(b1, 0)     # full write (table absent)
    pipe.process_batch(b2, 1)     # tagged append
    total = eng.read_table(table).agg(F.sum("event_count")).collect()[0][0]
    assert total == n
    import json as _json
    m = _json.load(open(eng._manifest_path(table)))
    v_before = m["version"]
    assert len(m["batch_tags"]) == 2

    # replay both batches under fresh (colliding) batch ids — a new
    # checkpoint lineage restarts at 0 — both must be no-ops
    pipe.process_batch(b2, 0)
    pipe.process_batch(b1, 1)
    m2 = _json.load(open(eng._manifest_path(table)))
    assert m2["version"] == v_before            # nothing published
    assert eng.read_table(table).agg(
        F.sum("event_count")).collect()[0][0] == n
    # no staged payload leaked from the skipped replays
    assert [d for d in os.listdir(eng.storage) if "__stage_" in d] == []
    # and the ledger still protects after compaction merges the dirs
    eng.compact_fact(EVENTS_FACT)
    pipe.process_batch(b2, 5)
    assert eng.read_table(table).agg(
        F.sum("event_count")).collect()[0][0] == n


def test_pipeline_replay_is_noop_in_rename_mode(spark, tmp_path):
    """The replay check of the retired rename commit, kept on the
    manifest path that replaced it: batch tags ride the manifest
    publish, a committed batch's replay is skipped, and a true full
    refresh clears the table's tags."""
    import json as _json
    cat = load_catalog(spark, SF, [EVENTS])
    n = cat["events"].count()
    b1 = cat["events"].limit(n // 2)
    b2 = cat["events"].subtract(b1)

    eng = Engine(spark, EVENTS_ENV, str(tmp_path / "wh"))
    eng.load_sources(SF)
    pipe = StreamingPipeline(eng, EVENTS_FACT)
    table = "fact_events_by_minute"
    pipe.process_batch(b1, 0)
    pipe.process_batch(b2, 1)
    assert eng.read_table(table).agg(
        F.sum("event_count")).collect()[0][0] == n
    pipe.process_batch(b1, 0)                  # replay: tag-skipped
    pipe.process_batch(b2, 7)
    assert eng.read_table(table).agg(
        F.sum("event_count")).collect()[0][0] == n
    m = _json.load(open(eng._manifest_path(table)))
    assert len(m["batch_tags"]) == 2
    # a true full refresh recomputes everything -> tags cleared
    eng.sources["events"] = cat["events"]
    eng.run(PopulationMode.FULL, T_FAR)
    assert "batch_tags" not in _json.load(open(eng._manifest_path(table)))


def test_pipeline_retry_after_lost_watermark_commit(
        spark, tmp_path, monkeypatch):
    """The torn arm: a crash between the append's publish and
    a separate watermark commit used to leave the batch committed with a
    stale inflight marker.  The publish now carries the batch tag itself,
    so a crash right after the pointer flip leaves a fully committed
    batch: the retry no-op-skips and nothing doubles."""
    import ringo_spark.engine as engmod

    cat = load_catalog(spark, SF, [EVENTS])
    n = cat["events"].count()
    b1 = cat["events"].limit(n // 2)
    b2 = cat["events"].subtract(b1)

    eng = Engine(spark, EVENTS_ENV, str(tmp_path / "wh"))
    eng.load_sources(SF)
    pipe = StreamingPipeline(eng, EVENTS_FACT)
    table = "fact_events_by_minute"
    pipe.process_batch(b1, 0)

    real_replace = os.replace

    def crash_after_flip(src, dst):
        real_replace(src, dst)
        if dst.endswith(table + ".manifest.json"):
            raise RuntimeError("injected crash after the pointer flip")

    monkeypatch.setattr(engmod.os, "replace", crash_after_flip)
    with pytest.raises(RuntimeError, match="injected"):
        pipe.process_batch(b2, 1)              # append published, then crash
    monkeypatch.undo()
    m = eng._read_manifest(table)
    assert len(m["batch_tags"]) == 2           # the tag rode the publish
    pipe.process_batch(b2, 1)                  # retry: skip
    assert eng._read_manifest(table)["version"] == m["version"]
    assert eng.read_table(table).agg(
        F.sum("event_count")).collect()[0][0] == n


def test_pipeline_first_batch_crash_before_tag_is_bracketed(
        spark, tmp_path, monkeypatch):
    """A pipeline's FIRST micro-batch lands as a full write.
    Its tag rides the same manifest flip as its data, so no crash point
    leaves the data visible without the tag: a crash at the promote
    rename or just before the flip leaves no table (the replay writes
    it), a crash just after the flip leaves it tagged (the replay is a
    no-op).  Either way the replay ends at exactly one copy."""
    import ringo_spark.engine as engmod

    cat = load_catalog(spark, SF, [EVENTS])
    n = cat["events"].count()
    b1 = cat["events"].limit(n // 2)
    table = "fact_events_by_minute"
    real_rename, real_replace = os.rename, os.replace

    def crash_at_promote(src, dst):
        if f"{table}__stage_" in src:
            raise RuntimeError("injected crash at the promote rename")
        return real_rename(src, dst)

    def crash_before_flip(src, dst):
        if dst.endswith(table + ".manifest.json"):
            raise RuntimeError("injected crash before the pointer flip")
        return real_replace(src, dst)

    def crash_after_flip(src, dst):
        real_replace(src, dst)
        if dst.endswith(table + ".manifest.json"):
            raise RuntimeError("injected crash after the pointer flip")

    visible = []
    for i, (name, crash) in enumerate((("rename", crash_at_promote),
                                       ("replace", crash_before_flip),
                                       ("replace", crash_after_flip))):
        eng = Engine(spark, EVENTS_ENV, str(tmp_path / f"wh{i}"))
        eng.load_sources(SF)
        pipe = StreamingPipeline(eng, EVENTS_FACT)
        monkeypatch.setattr(engmod.os, name, crash)
        with pytest.raises(RuntimeError, match="injected"):
            pipe.process_batch(b1, 0)
        monkeypatch.undo()
        m = eng._read_manifest(table)
        visible.append(m is not None)
        assert m is None or len(m.get("batch_tags", [])) == 1
        pipe.process_batch(b1, 0)              # replay
        assert eng.read_table(table).agg(
            F.sum("event_count")).collect()[0][0] == n // 2
    assert visible == [False, False, True]


def test_batch_tag_ledger_retention_bound(spark, tmp_path):
    """ADVICE r18: the tag ledger grew unboundedly — every micro-batch's
    tag was carried through every later publish forever.  The ledger
    now keeps the newest BATCH_TAG_RETENTION tags; replay protection
    therefore covers the last N batches (foreachBatch retries and
    recent lineage resets), and an older tag ages out FIFO."""
    eng = Engine(spark, EVENTS_ENV, str(tmp_path / "wh"))
    assert Engine.BATCH_TAG_RETENTION >= 1024   # real bound is generous
    eng.BATCH_TAG_RETENTION = 3                 # instance-scoped shrink
    eng._write_full(spark.range(1), "t", batch_tag="tag0")
    for i in range(1, 5):
        eng._write_append(spark.range(1), "t", batch_tag=f"tag{i}")
    assert eng._read_manifest("t")["batch_tags"] == ["tag2", "tag3", "tag4"]
    # a retained tag still makes its replay a no-op; an aged-out one
    # no longer protects
    eng._write_append(spark.range(1), "t", batch_tag="tag4")
    assert eng.read_table("t").count() == 5
    eng._write_append(spark.range(1), "t", batch_tag="tag0")
    assert eng.read_table("t").count() == 6
