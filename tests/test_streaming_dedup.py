"""Streaming dedup: online exact + MinHash-LSH near-dup as foreachBatch
joins against a claims table. Pins (a) cross-micro-batch and cross-RESTART
duplicate detection, (b) streaming MinHash signatures bit-identical to the
batch ``minhash_signatures`` (same hash family, same band pack), (c) the
candidate→verdict reduction, (d) event-time TTL, and (e) the claims table's
compaction, crash and replay behaviour."""

import os

import numpy as np
import pandas as pd
import pytest

from ezmsg_sigproc_spark.operators.dedup import minhash_signatures
from ezmsg_sigproc_spark.streaming import dedup_stream
from ezmsg_sigproc_spark.streaming.dedup_stream import (
    ClaimsTable,
    _band_pack,
    _minhash_rows,
    reduce_candidates,
    streaming_exact_join,
    streaming_minhash_join,
)

SCHEMA = "doc_id string, text string"
TS_SCHEMA = "doc_id string, text string, ts timestamp"


def exact_join(sink, state, **kw):
    return lambda stream: streaming_exact_join(stream, str(sink), str(state),
                                               **kw)


def minhash_join(sink, state, **kw):
    return lambda stream: streaming_minhash_join(stream, str(sink), str(state),
                                                 **kw)


def _run(spark, op, src, ckpt, schema=SCHEMA):
    """One availableNow drain of ``src`` (one file per micro-batch) through
    the foreachBatch writer ``op(stream)``."""
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1).parquet(str(src / "*"))
    q = (op(stream)
         .option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True)
         .start())
    assert q.awaitTermination(180), "streaming query failed to terminate"


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
    op = exact_join(sink, tmp_path / "state")
    _run(spark, op, src, ckpt)
    # restart with new data: d4 duplicates d1's content SEEN IN THE PRIOR JOB
    _write(spark, src, "b2", [("d4", "the quick brown fox"),
                              ("d5", "novel text here")])
    _run(spark, op, src, ckpt)

    got = spark.read.parquet(str(sink)).toPandas().set_index("id")
    assert not got.loc["d1", "is_dup"] and got.loc["d1", "dup_of"] == ""
    assert not got.loc["d2", "is_dup"]
    assert got.loc["d3", "is_dup"] and got.loc["d3", "dup_of"] == "d1"
    # cross-restart: the claims survived the restart
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
    op = minhash_join(sink, tmp_path / "state")
    _run(spark, op, src, ckpt)
    # later micro-batch (separate job = restart as well): near-dup arrives
    _write(spark, src, "b2", [("d3", near),
                              ("d4", "another unrelated snippet on astronomy and telescopes")])
    _run(spark, op, src, ckpt)

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


def _write_ts(spark, src, name, rows):
    """rows: (doc_id, text, event time in epoch seconds)"""
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
    spark.createDataFrame(pdf, TS_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(str(src / name))


def test_streaming_exact_dedup_event_time_ttl_evicts_state(spark, tmp_path):
    """With an event-time retention TTL, a content hash whose last arrival
    trails the newest event time seen before the batch by more than the TTL
    is forgotten: its next arrival is a NEW original. (Event time, not
    processing time: retention windows are about corpus time and replay
    deterministically.) The no-TTL restart test above proves the same
    re-arrival WOULD be flagged as a dup when the claim persists."""
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    os.makedirs(src)
    op = exact_join(sink, tmp_path / "state", ttl_seconds=50.0,
                    event_ts_col="ts")

    _write_ts(spark, src, "b1", [("e1", "expirable content", 1000.0)])
    _run(spark, op, src, ckpt, TS_SCHEMA)
    # event time jumps past ts(e1)+TTL
    _write_ts(spark, src, "b2", [("f1", "filler content", 1100.0)])
    _write_ts(spark, src, "b3", [("f2", "more filler", 1110.0)])
    _run(spark, op, src, ckpt, TS_SCHEMA)
    # re-arrival after expiry: treated as a new original
    _write_ts(spark, src, "b4", [("e2", "expirable content", 1120.0)])
    _run(spark, op, src, ckpt, TS_SCHEMA)

    got = spark.read.parquet(str(sink)).toPandas().set_index("id")
    assert not got.loc["e1", "is_dup"]
    assert not got.loc["f1", "is_dup"] and not got.loc["f2", "is_dup"]
    assert not got.loc["e2", "is_dup"], (
        "the claim should have expired under the event-time TTL before e2")


def test_streaming_exact_ttl_refresh_keeps_claim_alive(spark, tmp_path):
    """Each arrival of a claimed content refreshes the claim's ``last_ts``:
    a content seen again within the TTL stays claimed past its FIRST
    arrival + TTL, while a content that was not refreshed expires."""
    src, sink = tmp_path / "src", tmp_path / "sink"
    os.makedirs(src)
    _write_ts(spark, src, "b1", [("k1", "refreshed content", 1000.0),
                                 ("x1", "unrefreshed content", 1000.0)])
    # within the TTL of k1: a dup, and the claim's last_ts becomes 1040
    _write_ts(spark, src, "b2", [("k2", "refreshed content", 1040.0)])
    _write_ts(spark, src, "b3", [("f1", "filler content", 1080.0)])
    # 1080 > 1000 + 50, but 1040 + 50 >= 1080: k's claim is live, x's is not
    _write_ts(spark, src, "b4", [("k3", "refreshed content", 1085.0),
                                 ("x2", "unrefreshed content", 1085.0)])
    _run(spark, exact_join(sink, tmp_path / "state", ttl_seconds=50.0,
                           event_ts_col="ts"),
         src, tmp_path / "ckpt", TS_SCHEMA)

    got = spark.read.parquet(str(sink)).toPandas().set_index("id")
    assert got.loc["k2", "is_dup"] and got.loc["k2", "dup_of"] == "k1"
    assert got.loc["k3", "is_dup"] and got.loc["k3", "dup_of"] == "k1"
    assert not got.loc["x2", "is_dup"]


def test_streaming_minhash_event_time_ttl_evicts_buckets(spark, tmp_path):
    """Same expiry contract for the LSH band buckets: after the TTL the
    bucket forgets its first-seen doc, so a later near-dup of the EXPIRED
    doc emits no candidates (novel), while within the window it does."""
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    os.makedirs(src)
    base = ("web corpus retention windows bound deduplication state for "
            "continuous ingest pipelines at scale")
    op = minhash_join(sink, tmp_path / "state", ttl_seconds=50.0,
                      event_ts_col="ts")

    _write_ts(spark, src, "b1", [("m1", base, 1000.0)])
    _run(spark, op, src, ckpt, TS_SCHEMA)
    # in-window near-dup IS caught
    _write_ts(spark, src, "b2", [("m2", base + " today", 1020.0)])
    _run(spark, op, src, ckpt, TS_SCHEMA)
    # jump event time past the TTL, then replay the same text
    _write_ts(spark, src, "b3",
              [("f1", "completely different filler about pottery", 1200.0)])
    _write_ts(spark, src, "b4",
              [("f2", "yet more unrelated filler on sailing", 1210.0)])
    _write_ts(spark, src, "b5", [("m3", base + " today", 1220.0)])
    _run(spark, op, src, ckpt, TS_SCHEMA)

    cands = spark.read.parquet(str(sink)).toPandas()
    assert "m2" in set(cands["id"]), "in-window near-dup missed"
    assert "m3" not in set(cands["id"]), (
        "bucket claims should have expired before m3 arrived")


def test_streaming_minhash_join_expected_candidates(spark, tmp_path):
    """The foreachBatch join emits exactly the expected candidate rows —
    same-batch claim (smallest id takes the bucket), cross-batch /
    cross-restart hit against a prior claim, re-arrival of a bucket's
    original emitting nothing — with ``jaccard_est`` equal to the
    signature agreement of the Python reference signatures."""
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
    src = tmp_path / "src"
    os.makedirs(src)
    op = minhash_join(tmp_path / "cands", tmp_path / "state")
    for name, rows in batches:
        _write(spark, src, name, rows)
        _run(spark, op, src, tmp_path / "ckpt")

    s1, s4 = _minhash_rows(pd.Series([base, near]), k=5, n_hashes=8)
    j14 = sum(a == b for a, b in zip(s1, s4)) / 8.0
    hits = [b for b in range(4) if _band_pack(s1, b, 2) == _band_pack(s4, b, 2)]
    assert hits, "the near-dup must share at least one band with d1"
    cols = ["id", "band_id", "first_id", "jaccard_est"]
    want = pd.DataFrame(
        [("d3", b, "d1", 1.0) for b in range(4)]
        + [("d4", b, "d1", j14) for b in hits], columns=cols)
    got = spark.read.parquet(str(tmp_path / "cands")).toPandas()[cols]
    pd.testing.assert_frame_equal(
        got.sort_values(cols).reset_index(drop=True),
        want.astype(got.dtypes.to_dict()).sort_values(cols)
        .reset_index(drop=True))


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
    _run(spark, minhash_join(tmp_path / "cands", tmp_path / "state"), src,
         tmp_path / "ckpt")
    cands = spark.read.parquet(str(tmp_path / "cands")).toPandas()
    assert set(cands["id"]) == {"d2"}
    assert set(cands["first_id"]) == {"d1"}


def test_prior_claim_batches_skips_fileless_and_current(tmp_path):
    """The claims-table lister both foreachBatch dedup joins share: only
    strictly older partitions holding a parquet file count, in batch
    order."""
    state = tmp_path / "state"
    table = ClaimsTable(str(state), ["k"], ["first_id"])
    assert table.prior_batches(5) == []  # no table yet
    for n, files in ((0, ["part-0.parquet", "_SUCCESS"]), (1, ["_SUCCESS"]),
                     (2, ["part-0.parquet"])):
        d = state / f"batch_id={n}"
        os.makedirs(d)
        for f in files:
            (d / f).write_bytes(b"")
    (state / "_spark_metadata").mkdir()
    assert table.prior_batches(2) == [0]
    assert table.prior_batches(3) == [0, 2]
    assert table.prior_batches(0) == []


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


# -- claims table: compaction, crash and replay ------------------------------

def _claims_corpus(spark, src, n_batches):
    """One file per micro-batch, 3 docs each over 6 contents, event times
    rising ~10 s per batch with jitter: under a 35 s TTL some claims are
    refreshed and some expire and are claimed afresh."""
    rng = np.random.default_rng(7)
    os.makedirs(src)
    for i in range(n_batches):
        _write_ts(spark, src, f"b{i:02d}", [
            (f"d{i:02d}_{j}", f"content {int(rng.integers(0, 6))}",
             float(1000 + 10 * i + int(rng.integers(0, 10))))
            for j in range(3)])


def _verdicts(spark, sink):
    return (spark.read.parquet(str(sink)).toPandas()
            [["id", "content_h", "is_dup", "dup_of"]]
            .sort_values("id").reset_index(drop=True))


def _exact_drain(spark, src, root, ttl):
    """Drain ``src`` through the exact join under ``root``; returns
    ``(report sink, claims dir, checkpoint)``. Raises if the query fails."""
    sink, state, ckpt = root / "sink", root / "state", root / "ckpt"
    _run(spark, exact_join(sink, state, ttl_seconds=ttl, event_ts_col="ts"),
         src, ckpt, TS_SCHEMA)
    return sink, state, ckpt


@pytest.mark.parametrize("ttl", [None, 35.0])
def test_claims_crash_and_replay_give_uncrashed_verdicts(
        spark, tmp_path, monkeypatch, ttl):
    """Crash/replay at each step of the claims commit, on a micro-batch
    that folds a snapshot and partitions into a new snapshot (fold
    threshold 2, batches 0..6: folds at 3 and 6). A crash after the claims
    write, a crash after the snapshot rename but before the folded
    partitions are deleted, and a plain replay of the committed batch each
    give the verdicts of an uncrashed run."""
    monkeypatch.setattr(dedup_stream, "FOLD_AFTER", 2)
    src = tmp_path / "src"
    _claims_corpus(spark, src, 7)
    ref_sink, ref_state, _ = _exact_drain(spark, src, tmp_path / "ref", ttl)
    want = _verdicts(spark, ref_sink)
    assert os.listdir(ref_state / "_snapshots") == ["6"]

    orig_append, orig_drop = ClaimsTable.append, ClaimsTable._drop_folded
    fired = []

    def crash_after_append(self, firsts, batch_id):
        orig_append(self, firsts, batch_id)
        if batch_id == 6 and not fired:
            fired.append(batch_id)
            raise RuntimeError("injected crash after the claims write")

    def crash_before_delete(self, snap):
        if snap == 6 and not fired:
            fired.append(sorted(os.listdir(self.snaps)))
            raise RuntimeError("injected crash before the delete")
        orig_drop(self, snap)

    for name, method, fake, seen in (
            ("after_claims_write", "append", crash_after_append, 6),
            ("after_snapshot_rename", "_drop_folded", crash_before_delete,
             ["3", "6"])):
        fired.clear()
        root = tmp_path / name
        with monkeypatch.context() as m:
            m.setattr(ClaimsTable, method, fake)
            with pytest.raises(Exception, match="injected crash"):
                _exact_drain(spark, src, root, ttl)
        assert fired == [seen], name
        sink, state, _ = _exact_drain(spark, src, root, ttl)  # replays 6
        pd.testing.assert_frame_equal(_verdicts(spark, sink), want, obj=name)
        assert os.listdir(state / "_snapshots") == ["6"], name
        assert sorted(os.listdir(state)) == sorted(os.listdir(ref_state)), name

    # replay of a committed batch: drop its commit and restart
    sink, state, ckpt = _exact_drain(spark, src, tmp_path / "replay", ttl)
    os.remove(ckpt / "commits" / "6")
    os.remove(ckpt / "commits" / ".6.crc")
    _exact_drain(spark, src, tmp_path / "replay", ttl)
    assert os.path.exists(ckpt / "commits" / "6")
    pd.testing.assert_frame_equal(_verdicts(spark, sink), want, obj="replay")


def test_claims_compaction_bounds_files_and_keeps_verdicts(
        spark, tmp_path, monkeypatch):
    """Over 2×FOLD_AFTER+3 micro-batches with a TTL (two folds, the second
    merging the first snapshot), compaction keeps the claims table to one
    snapshot plus at most FOLD_AFTER+1 batch partitions, in fewer files
    than the unfolded table, and every verdict equals the run that never
    folds."""
    k = dedup_stream.FOLD_AFTER
    n = 2 * k + 3
    src = tmp_path / "src"
    _claims_corpus(spark, src, n)
    sink, state, _ = _exact_drain(spark, src, tmp_path / "folded", 35.0)
    monkeypatch.setattr(dedup_stream, "FOLD_AFTER", 10 ** 9)
    ref_sink, ref_state, _ = _exact_drain(spark, src, tmp_path / "unfolded",
                                          35.0)
    got, want = _verdicts(spark, sink), _verdicts(spark, ref_sink)
    pd.testing.assert_frame_equal(got, want)
    assert len(got) == 3 * n
    # the scenario exercises both refresh and expiry: some content is
    # claimed by more than one doc over the run
    claimants = got[~got["is_dup"]].groupby("content_h")["id"].nunique()
    assert got["is_dup"].any() and (claimants > 1).any()

    def files(root):
        return sum(len(fs) for _, _, fs in os.walk(root))

    parts = [d for d in os.listdir(state) if d.startswith("batch_id=")]
    assert len(parts) <= k + 1
    assert os.listdir(state / "_snapshots") == [str(2 * k + 2)]
    assert files(state) < files(ref_state)
    assert len(os.listdir(ref_state)) == n
