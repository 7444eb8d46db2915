"""Streaming dedup: online exact + MinHash-LSH near-dup over Spark's state
store. Pins (a) cross-micro-batch and cross-RESTART duplicate detection —
the state-carry contract, (b) streaming MinHash signatures bit-identical to
the batch ``minhash_signatures`` (same hash family, same band pack), and
(c) the candidate→verdict reduction used in foreachBatch."""

import os

import pandas as pd

from ezmsg_sigproc_spark.operators.dedup import minhash_signatures
from ezmsg_sigproc_spark.streaming.dedup_stream import (
    _band_pack,
    _minhash_rows,
    prior_claim_batches,
    reduce_candidates,
    streaming_exact_dedup,
    streaming_minhash_dedup,
    streaming_minhash_join,
)

SCHEMA = "doc_id string, text string"


def _run(spark, op, src, sink, ckpt):
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1).parquet(str(src / "*"))
    q = (op(stream)
         .writeStream.format("parquet")
         .option("path", str(sink))
         .option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(180)


def _write(spark, src, name, rows):
    spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]),
                          SCHEMA).coalesce(1).write.mode("overwrite").parquet(
        str(src / name))


def test_streaming_exact_dedup_across_batches_and_restart(spark, tmp_path):
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    os.makedirs(src)
    _write(spark, src, "b1", [("d1", "the quick brown fox"),
                              ("d2", "unrelated document"),
                              ("d3", "the quick brown fox")])  # same-batch dup
    _run(spark, streaming_exact_dedup, src, sink, ckpt)
    # restart with new data: d4 duplicates d1's content SEEN IN THE PRIOR JOB
    _write(spark, src, "b2", [("d4", "the quick brown fox"),
                              ("d5", "novel text here")])
    _run(spark, streaming_exact_dedup, src, sink, ckpt)

    got = spark.read.parquet(str(sink)).toPandas().set_index("id")
    assert not got.loc["d1", "is_dup"] and got.loc["d1", "dup_of"] == ""
    assert not got.loc["d2", "is_dup"]
    assert got.loc["d3", "is_dup"] and got.loc["d3", "dup_of"] == "d1"
    # cross-restart: state survived the checkpoint
    assert got.loc["d4", "is_dup"] and got.loc["d4", "dup_of"] == "d1"
    assert not got.loc["d5", "is_dup"]


def test_streaming_minhash_signature_parity_with_batch(spark):
    texts = ["the quick brown fox jumps over the lazy dog",
             "pack my box with five dozen liquor jugs",
             "sphinx of black quartz judge my vow"]
    pdf = pd.DataFrame({"doc_id": [f"d{i}" for i in range(len(texts))],
                        "text": texts})
    batch = (minhash_signatures(
        spark.createDataFrame(pdf, SCHEMA), "doc_id", "text", k=5, n_hashes=8)
        .toPandas().set_index("id"))
    stream_sigs = _minhash_rows(pdf["text"], k=5, n_hashes=8)
    for i, sig in enumerate(stream_sigs):
        row = batch.loc[f"d{i}"]
        assert sig == [int(row[f"m{j}"]) for j in range(8)], f"doc d{i}"
    # band pack parity is pure arithmetic on the (already equal) signature;
    # check injectivity shape on the first doc
    packs = [_band_pack(stream_sigs[0], b, 2) for b in range(4)]
    assert len(set(packs)) == len(packs)


def test_streaming_minhash_near_dup_candidates_and_reduction(spark, tmp_path):
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    os.makedirs(src)
    base = ("large scale web crawl corpora need near duplicate removal "
            "before language model training to avoid memorization")
    near = base.replace("memorization", "memorisation")  # tiny edit
    _write(spark, src, "b1", [("d1", base),
                              ("d2", "completely different content here about gardening tools")])
    _run(spark, streaming_minhash_dedup, src, sink, ckpt)
    # later micro-batch (separate job = restart as well): near-dup arrives
    _write(spark, src, "b2", [("d3", near),
                              ("d4", "another unrelated snippet on astronomy and telescopes")])
    _run(spark, streaming_minhash_dedup, src, sink, ckpt)

    cands = spark.read.parquet(str(sink)).toPandas()
    verdict = reduce_candidates(cands, threshold=0.5).set_index("id")
    assert "d3" in verdict.index, f"near-dup not caught: {cands}"
    assert verdict.loc["d3", "dup_of"] == "d1"
    assert verdict.loc["d3", "is_dup"]
    # unrelated docs never become candidates
    assert "d2" not in verdict.index and "d4" not in verdict.index


def test_reduce_candidates_empty_and_threshold():
    empty = reduce_candidates(pd.DataFrame(
        columns=["id", "band_id", "first_id", "jaccard_est"]))
    assert list(empty.columns) == ["id", "dup_of", "jaccard_est", "is_dup"]
    pdf = pd.DataFrame({"id": ["x", "x"], "band_id": [0, 1],
                        "first_id": ["a", "b"], "jaccard_est": [0.25, 0.75]})
    v = reduce_candidates(pdf, threshold=0.5).set_index("id")
    assert v.loc["x", "dup_of"] == "b" and v.loc["x", "is_dup"]
    v2 = reduce_candidates(pdf, threshold=0.9).set_index("id")
    assert not v2.loc["x", "is_dup"]


def test_streaming_exact_dedup_event_time_ttl_evicts_state(spark, tmp_path):
    """With an event-time retention TTL, a content hash whose last arrival
    trails the watermark by more than the TTL is evicted: its next arrival
    is a NEW original. (Event-time, not processing-time, on purpose — see
    the operator docstring; processing-time timeouts never let an
    availableNow backfill job terminate.) The no-TTL restart test above
    proves the same re-arrival WOULD be flagged as a dup when state
    persists. Watermark lag means eviction lands on the trigger AFTER the
    one that advances the watermark past the deadline — hence the filler
    batches."""
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    os.makedirs(src)
    schema = "doc_id string, text string, ts timestamp"

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(src / name))

    def run(op):
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(str(src / "*"))
        q = (op(stream)
             .writeStream.format("parquet")
             .option("path", str(sink))
             .option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True)
             .start())
        assert q.awaitTermination(180), "streaming query failed to terminate"

    def op(stream):
        return streaming_exact_dedup(stream, ttl_seconds=50.0,
                                     event_ts_col="ts")

    write("b1", [("e1", "expirable content", 1000.0)])
    run(op)
    # event time jumps past ts(e1)+TTL; the next triggers advance the
    # watermark and fire e1's eviction
    write("b2", [("f1", "filler content", 1100.0)])
    write("b3", [("f2", "more filler", 1110.0)])
    run(op)
    # re-arrival after eviction: treated as a new original
    write("b4", [("e2", "expirable content", 1120.0)])
    run(op)

    got = spark.read.parquet(str(sink)).toPandas().set_index("id")
    assert not got.loc["e1", "is_dup"]
    assert not got.loc["f1", "is_dup"] and not got.loc["f2", "is_dup"]
    assert not got.loc["e2", "is_dup"], (
        "state should have been evicted by the event-time TTL before e2")


def test_streaming_minhash_event_time_ttl_evicts_buckets(spark, tmp_path):
    """Same eviction contract for the LSH band buckets: after the TTL the
    bucket forgets its first-seen doc, so a later near-dup of the EXPIRED
    doc emits no candidates (novel), while within the window it does."""
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    os.makedirs(src)
    schema = "doc_id string, text string, ts timestamp"
    base = ("web corpus retention windows bound deduplication state for "
            "continuous ingest pipelines at scale")

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(src / name))

    def run(op):
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1).parquet(str(src / "*"))
        q = (op(stream)
             .writeStream.format("parquet")
             .option("path", str(sink))
             .option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True)
             .start())
        assert q.awaitTermination(180), "streaming query failed to terminate"

    def op(stream):
        return streaming_minhash_dedup(stream, ttl_seconds=50.0,
                                       event_ts_col="ts")

    write("b1", [("m1", base, 1000.0)])
    run(op)
    # in-window near-dup IS caught
    write("b2", [("m2", base + " today", 1020.0)])
    run(op)
    # jump event time past the TTL (filler batches advance the watermark
    # and fire the bucket evictions), then replay the same text
    write("b3", [("f1", "completely different filler about pottery", 1200.0)])
    write("b4", [("f2", "yet more unrelated filler on sailing", 1210.0)])
    write("b5", [("m3", base + " today", 1220.0)])
    run(op)

    cands = spark.read.parquet(str(sink)).toPandas()
    assert "m2" in set(cands["id"]), "in-window near-dup missed"
    assert "m3" not in set(cands["id"]), (
        "bucket state should have expired before m3 arrived")


def test_streaming_minhash_join_parity_with_stateful(spark, tmp_path):
    """The foreachBatch join mode emits EXACTLY the stateful op's candidate
    rows — same-batch claim (smallest id takes the bucket), cross-batch /
    cross-restart hit against a prior claim, re-arrival of a bucket's
    original emitting nothing — at JVM join speed with no Python stage."""
    base = ("streaming near duplicate detection must not change verdicts "
            "when the python stage is replaced by a join")
    near = base.replace("verdicts", "verdict")
    batches = [
        # b1: unclaimed buckets -> d1 claims (smallest id), d3 same text
        # emits vs d1 in the SAME batch; d2 unrelated
        ("b1", [("d1", base), ("d3", base),
                ("d2", "completely different content about pottery kilns")]),
        # b2 (separate run = restart): near-dup of d1 arrives, d1's text
        # re-arrives under its own id (no self-candidate), novel doc
        ("b2", [("d4", near), ("d1", base),
                ("d5", "unrelated astronomy telescope observations log")]),
    ]

    def run_stateful(src, sink, ckpt):
        os.makedirs(src)
        for name, rows in batches:
            _write(spark, src, name, rows)
            _run(spark, streaming_minhash_dedup, src, sink, ckpt)

    def run_join(src, cands, state, ckpt):
        os.makedirs(src)
        for name, rows in batches:
            _write(spark, src, name, rows)
            stream = spark.readStream.schema(SCHEMA).option(
                "maxFilesPerTrigger", 1).parquet(str(src / "*"))
            q = (streaming_minhash_join(stream, str(cands), str(state))
                 .option("checkpointLocation", str(ckpt))
                 .trigger(availableNow=True)
                 .start())
            assert q.awaitTermination(180)

    run_stateful(tmp_path / "src_st", tmp_path / "sink_st",
                 tmp_path / "ckpt_st")
    run_join(tmp_path / "src_j", tmp_path / "cands_j", tmp_path / "state_j",
             tmp_path / "ckpt_j")

    cols = ["id", "band_id", "first_id", "jaccard_est"]
    st = (spark.read.parquet(str(tmp_path / "sink_st")).toPandas()[cols]
          .sort_values(cols).reset_index(drop=True))
    jn = (spark.read.parquet(str(tmp_path / "cands_j")).toPandas()[cols]
          .sort_values(cols).reset_index(drop=True))
    pd.testing.assert_frame_equal(st, jn)
    # sanity on content: the same-batch dup and the cross-run near-dup are
    # both attributed to d1; nothing else ever becomes a candidate
    assert set(st["id"]) == {"d3", "d4"}
    assert set(st["first_id"]) == {"d1"}


def test_streaming_minhash_join_empty_first_batch(spark, tmp_path):
    """A zero-row source file makes the FIRST micro-batch empty, so its
    claims partition may contain no parquet files; later batches must skip
    file-less partitions when assembling prior claims (a read over only
    file-less partitions cannot infer a schema) and still dedup across the
    empty batch."""
    src = tmp_path / "src"
    os.makedirs(src)
    base = ("empty first micro batches must not poison the band claims "
            "table for every later batch")
    _write(spark, src, "b0", [])  # zero-row file -> empty batch 0
    _write(spark, src, "b1", [("d1", base)])
    _write(spark, src, "b2", [("d2", base)])
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1).parquet(str(src / "*"))
    q = (streaming_minhash_join(stream, str(tmp_path / "cands"),
                                str(tmp_path / "state"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True)
         .start())
    assert q.awaitTermination(180)
    cands = spark.read.parquet(str(tmp_path / "cands")).toPandas()
    assert set(cands["id"]) == {"d2"}
    assert set(cands["first_id"]) == {"d1"}


def test_prior_claim_batches_skips_fileless_and_current(tmp_path):
    """The claims lister both foreachBatch dedup modes share: only strictly
    older partitions holding a parquet file count, in batch order."""
    state = tmp_path / "state"
    assert prior_claim_batches(str(state), 5) == []  # no table yet
    for n, files in ((0, ["part-0.parquet", "_SUCCESS"]), (1, ["_SUCCESS"]),
                     (2, ["part-0.parquet"])):
        d = state / f"batch_id={n}"
        os.makedirs(d)
        for f in files:
            (d / f).write_bytes(b"")
    (state / "_spark_metadata").mkdir()
    assert prior_claim_batches(str(state), 2) == [0]
    assert prior_claim_batches(str(state), 3) == [0, 2]
    assert prior_claim_batches(str(state), 0) == []


def test_minhash_rows_property_parity_with_batch(spark):
    """Hypothesis sweep: for arbitrary unicode-ish texts the stateless
    streaming signature equals the batch JVM formulation exactly (same md5
    slice family, same min selection, same <k filtering)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    text_st = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x24F),
        min_size=0, max_size=60)

    @settings(max_examples=20, deadline=None)
    @given(texts=st.lists(text_st, min_size=1, max_size=4))
    def check(texts):
        pdf = pd.DataFrame({"doc_id": [f"d{i}" for i in range(len(texts))],
                            "text": texts})
        stream_sigs = _minhash_rows(pdf["text"], k=5, n_hashes=8)
        batch = (minhash_signatures(
            spark.createDataFrame(pdf, SCHEMA), "doc_id", "text",
            k=5, n_hashes=8).toPandas().set_index("id"))
        for i, sig in enumerate(stream_sigs):
            did = f"d{i}"
            if sig is None:
                assert did not in batch.index  # batch filters len<k rows
            else:
                assert sig == [int(batch.loc[did][f"m{j}"]) for j in range(8)]

    check()


def test_streaming_minhash_stateful_exchange_prunes_text(spark, tmp_path):
    """Scale shape: the shuffle into the stateful stage carries only
    (id, band_id, band_sig, sig) — never the document text. At 100 TB the
    text column on the state-store exchange would dominate the job; the
    analyzed streaming plan proves it is pruned before the groupBy."""
    stream = spark.readStream.schema(SCHEMA).parquet(str(tmp_path / "*"))
    out = streaming_minhash_dedup(stream)
    plan = out._jdf.queryExecution().analyzed().toString()
    seg = plan[plan.index("FlatMapGroupsInPandasWithState"):]
    # the stateful node's grouping + data attributes: band keys present,
    # the raw document text absent (pruned before the exchange)
    head = seg.splitlines()[0]
    assert "band_id" in head and "band_sig" in head
    assert "text" not in head
