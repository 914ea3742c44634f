"""Persistent incremental-dedup state (llm/dedupstate.py): bloom-gated,
partition-pruned, exactly-correct across batches.

The reference's only dedup primitive is SQL DISTINCT
(/root/reference/src/TidierDB.jl @distinct); the incremental 100 TB
seen-set store is beyond-reference surface.  Correctness here is
differential: every batch outcome is recomputed independently in pandas
over the same inputs.
"""

import glob
import os

import pandas as pd
import pytest

from tidierdb_jl_spark import TidyFrame
from tidierdb_jl_spark.llm.dedupstate import DedupState
from tidierdb_jl_spark.llm.textstats import with_fingerprint


def _docs_batch(tables, lo, hi):
    return tables["documents"].filter(f"doc_id >= {lo} AND doc_id < {hi}").select(
        "doc_id", "text"
    )


def _expected_new(spark_batch_pdf, seen_fps):
    """Independent recomputation: normalize → md5 → first-per-fp minus seen."""
    import hashlib
    import re

    pdf = spark_batch_pdf.copy()
    pdf["fp"] = [
        hashlib.md5(re.sub(r"\s+", " ", t).strip().lower().encode()).hexdigest()
        for t in pdf["text"]
    ]
    pdf = pdf.sort_values("doc_id").drop_duplicates("fp", keep="first")
    return pdf[~pdf["fp"].isin(seen_fps)], set(pdf["fp"])


def test_dedupstate_multi_batch_exactness(spark, tables, tmp_path):
    st = DedupState.create(
        spark, str(tmp_path / "st"), n_buckets=8, expected_items=10_000
    )
    seen: set = set()
    for lo, hi in [(0, 60), (40, 120), (0, 200)]:  # overlapping batches
        batch = _docs_batch(tables, lo, hi)
        got = st.ingest(batch, "doc_id").collect().sort_values("doc_id")
        want, batch_fps = _expected_new(batch.collect(), seen)
        assert got["doc_id"].tolist() == want["doc_id"].sort_values().tolist(), (
            lo,
            hi,
        )
        assert set(got["fingerprint"]) == set(want["fp"])
        seen |= batch_fps
    assert st.stats()["n_fingerprints"] == len(seen)


def test_dedupstate_exact_under_heavy_bloom_fp(spark, tables, tmp_path):
    """A deliberately undersized bloom (near-saturated) must only change
    which PATH rows take, never the answer — false positives are verified
    against the real state."""
    st = DedupState.create(
        spark, str(tmp_path / "st"), n_buckets=4, expected_items=4, fpp=0.5
    )
    b1 = _docs_batch(tables, 0, 80)
    st.ingest(b1, "doc_id")
    assert st.stats()["bloom_est_fpr"] > 0.5  # saturated, as intended
    b2 = _docs_batch(tables, 50, 150)
    got = st.ingest(b2, "doc_id").collect()
    seen1 = set(with_fingerprint(b1, "text").collect()["fingerprint"])
    want, _ = _expected_new(b2.collect(), seen1)
    assert sorted(got["doc_id"]) == sorted(want["doc_id"])


def test_dedupstate_partition_pruning_measured(spark, tables, tmp_path):
    """The scale claim, measured: a small batch's verify scan reads only
    the partitions its bloom-hit fingerprints hash to — files-read from
    the SQL status store, not the plan."""
    from tidierdb_jl_spark.plans.metrics import run_with_scan_metrics

    st = DedupState.create(
        spark, str(tmp_path / "st"), n_buckets=16, expected_items=10_000
    )
    st.ingest(_docs_batch(tables, 0, 400), "doc_id")
    n_dirs = len(glob.glob(os.path.join(st.path, "data", "fp_bucket=*")))
    assert n_dirs > 8  # the state genuinely spans many partitions

    # a 3-document batch, all already seen -> every row is a bloom hit,
    # and the verify scan may touch at most 3 buckets
    small = _docs_batch(tables, 10, 13)
    out = st.filter_new(small, "doc_id")
    rows, scans = run_with_scan_metrics(out, action="collect")
    assert len(rows) == 0
    pruned = [s for s in scans if (s["partitions"] or 0) > 0]
    assert pruned, scans
    assert max(s["partitions"] for s in pruned if s["partitions"]) <= 3, scans


def test_dedupstate_append_idempotent(spark, tables, tmp_path):
    st = DedupState.create(
        spark, str(tmp_path / "st"), n_buckets=4, expected_items=1_000
    )
    fps = with_fingerprint(_docs_batch(tables, 0, 50), "text")
    n1 = st.append(fps)
    n2 = st.append(fps)
    assert n1 > 0 and n2 == 0
    stored = spark.read.parquet(os.path.join(st.path, "data"))
    assert stored.count() == stored.select("fingerprint").distinct().count() == n1


def test_dedupstate_public_append_updates_bloom_with_live_state(spark, tables, tmp_path):
    """Regression: append() builds the batch bloom AFTER writing the state
    path; if the batch's lineage (which anti-joins that path) is not
    truncated first, the recompute sees its own fingerprints as 'seen',
    blooms an EMPTY set, and every appended fingerprint becomes a bloom
    false-negative — i.e. a future admitted duplicate."""
    st = DedupState.create(
        spark, str(tmp_path / "st"), n_buckets=4, expected_items=1_000
    )
    a = with_fingerprint(_docs_batch(tables, 0, 40), "text")
    b = with_fingerprint(_docs_batch(tables, 40, 90), "text")
    st.append(a)
    st.append(b)  # state exists -> the verify lineage reads the state path
    # every fingerprint of b must now be gated out — including via the
    # bloom-negative fast path, which is only correct if b made the bloom
    assert len(st.filter_new(_docs_batch(tables, 40, 90), "doc_id").collect()) == 0


def test_dedupstate_ingest_result_pinned(spark, tables, tmp_path):
    st = DedupState.create(
        spark, str(tmp_path / "st"), n_buckets=4, expected_items=1_000
    )
    out = st.ingest(_docs_batch(tables, 0, 30), "doc_id")
    # after append, a NAIVE recompute would anti-join against itself and
    # return nothing; the pinned frame must still hold its rows
    assert len(out.collect()) > 0
    assert len(st.filter_new(_docs_batch(tables, 0, 30), "doc_id").collect()) == 0


def test_dedupstate_compact_preserves_rows(spark, tables, tmp_path):
    st = DedupState.create(
        spark, str(tmp_path / "st"), n_buckets=4, expected_items=1_000
    )
    for lo in range(0, 120, 30):  # several small appends -> many files
        st.ingest(_docs_batch(tables, lo, lo + 30), "doc_id")
    data = os.path.join(st.path, "data")
    before = set(
        spark.read.parquet(data).toPandas().itertuples(index=False, name=None)
    )
    files_before = len(glob.glob(os.path.join(data, "*", "*.parquet")))
    st.compact()
    after = set(
        spark.read.parquet(data).toPandas().itertuples(index=False, name=None)
    )
    files_after = len(glob.glob(os.path.join(data, "*", "*.parquet")))
    assert after == before
    assert files_after < files_before
    # partition layout preserved (pruning still works after compaction)
    assert glob.glob(os.path.join(data, "fp_bucket=*"))


def test_dedupstate_stream_ingest_across_microbatches(spark, tables, tmp_path):
    """Streaming crawl ingest: two parquet files with overlapping content
    arrive as separate micro-batches (maxFilesPerTrigger=1); the state
    must dedup ACROSS them and the output must be exactly the sequential
    ingest result."""
    from tidierdb_jl_spark.streaming.stream import read_stream

    src = str(tmp_path / "src")
    _docs_batch(tables, 0, 80).df.coalesce(1).write.parquet(src)
    _docs_batch(tables, 50, 150).df.coalesce(1).write.mode("append").parquet(src)

    st = DedupState.create(
        spark, str(tmp_path / "st"), n_buckets=8, expected_items=10_000
    )
    stream = read_stream(spark, src, fmt="parquet", maxFilesPerTrigger="1")
    out = str(tmp_path / "out")
    q = st.stream_ingest(
        stream, "doc_id", out, str(tmp_path / "ck"), trigger="availableNow"
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas()
    # union of both windows, each fingerprint exactly once (first doc_id
    # within the batch that introduced it)
    all_docs = _docs_batch(tables, 0, 150).collect()
    want_n = all_docs.assign(
        fp=[__import__("hashlib").md5(
            __import__("re").sub(r"\s+", " ", t).strip().lower().encode()
        ).hexdigest() for t in all_docs["text"]]
    )["fp"].nunique()
    assert got["fingerprint"].nunique() == want_n
    assert len(got) == got["fingerprint"].nunique()  # no double emission
    assert st.stats()["n_fingerprints"] == want_n


def test_dedupstate_lifecycle_and_edges(spark, tables, tmp_path):
    p = str(tmp_path / "st")
    st = DedupState.create(spark, p, n_buckets=4, expected_items=100)
    with pytest.raises(ValueError, match="already exists"):
        DedupState.create(spark, p)
    with pytest.raises(ValueError, match="fingerprint"):
        st.append(tables["documents"].select("doc_id"))
    # empty state: everything is new, no state scan attempted
    out = st.filter_new(_docs_batch(tables, 0, 10), "doc_id").collect()
    assert len(out) == 10
    # reopen sees the same meta
    st.ingest(_docs_batch(tables, 0, 10), "doc_id")
    st2 = DedupState.open(spark, p)
    assert st2.stats() == st.stats()
    assert len(st2.filter_new(_docs_batch(tables, 0, 10), "doc_id").collect()) == 0
    # over-capacity warns but stays correct
    with pytest.warns(UserWarning, match="bloom capacity"):
        st2.ingest(_docs_batch(tables, 10, 400), "doc_id")
    assert (
        len(st2.filter_new(_docs_batch(tables, 0, 400), "doc_id").collect()) == 0
    )


# ---------------------------------------------------------------------------
# NearDupState (MinHash-LSH persistent state)
# ---------------------------------------------------------------------------


def _planted_batches(tables, spark):
    """Three DISJOINT-id batches where batches 2 and 3 contain renumbered
    copies of earlier docs — cross-batch near-dups with known answers."""
    from pyspark.sql import functions as F

    from tidierdb_jl_spark import TidyFrame

    b1 = _docs_batch(tables, 0, 150)
    copies2 = (
        _docs_batch(tables, 10, 40).df
        .withColumn("doc_id", F.col("doc_id") + 100000)
    )
    b2 = TidyFrame(
        _docs_batch(tables, 150, 280).df.unionByName(copies2)
    )
    copies3 = (
        _docs_batch(tables, 200, 230).df
        .withColumn("doc_id", F.col("doc_id") + 200000)
    )
    b3 = TidyFrame(
        _docs_batch(tables, 280, 400).df.unionByName(copies3)
    )
    return [b1, b2, b3]


def test_neardupstate_matches_incremental_chain(spark, tables, tmp_path):
    """Differential: sequential NearDupState ingests must assign exactly
    the dup_of that chaining minhash_dedup_incremental over accumulated
    signature frames assigns (same num_perm/bands/shingle/threshold)."""
    from pyspark.sql import functions as F

    from tidierdb_jl_spark import TidyFrame
    from tidierdb_jl_spark.llm.dedup import (
        minhash_dedup_incremental,
        minhash_signature,
    )
    from tidierdb_jl_spark.llm.dedupstate import NearDupState

    st = NearDupState.create(
        spark, str(tmp_path / "nd"), num_perm=64, bands=16, shingle=3,
        n_buckets=16, expected_items=10_000,
    )
    seen_sig = None
    total_kept = 0
    for i, batch in enumerate(_planted_batches(tables, spark)):
        got = (
            st.ingest(batch, "doc_id", threshold=0.7)
            .collect()[["doc_id", "dup_of"]]
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        if seen_sig is None:
            # empty history with the right schema
            seen_sig = TidyFrame(
                minhash_signature(batch, "doc_id", "text", 64, 3)
                .df.filter("false")
                .select("doc_id", "minhash")
            )
        ref = (
            minhash_dedup_incremental(
                batch, seen_sig, "doc_id", num_perm=64, bands=16,
                shingle=3, threshold=0.7,
            )
            .collect()[["doc_id", "dup_of"]]
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, ref, check_dtype=False)
        # accumulate KEPT signatures, as an ingest pipeline would
        kept_ids = got[got["dup_of"].isna()]["doc_id"].tolist()
        total_kept += len(kept_ids)
        batch_sig = minhash_signature(batch, "doc_id", "text", 64, 3).df.select(
            "doc_id", "minhash"
        )
        new_keep = batch_sig.where(F.col("doc_id").isin(kept_ids))
        seen_sig = TidyFrame(
            seen_sig.df.unionByName(new_keep).localCheckpoint(eager=True)
        )
        if i == 2:
            # the renumbered copies MUST be flagged as dups of the original
            copies = got[got["doc_id"] >= 200000]
            assert copies["dup_of"].notna().all()
    # the state recorded exactly the keepers (the 60 renumbered copies —
    # and the corpus' own planted dups — all rejected, matching the ref)
    assert st.stats()["n_docs"] == total_kept
    # 460 rows total, of which the 60 renumbered copies must be rejected
    assert total_kept <= 400


def test_neardupstate_pinned_and_reopen(spark, tables, tmp_path):
    from tidierdb_jl_spark.llm.dedupstate import NearDupState

    p = str(tmp_path / "nd")
    st = NearDupState.create(
        spark, p, num_perm=64, bands=16, n_buckets=8, expected_items=1_000
    )
    out = st.ingest(_docs_batch(tables, 0, 60), "doc_id")
    n1 = len(out.collect())
    assert len(out.collect()) == n1  # stable after the state writes
    st2 = NearDupState.open(spark, p)
    assert st2.stats() == st.stats()
    # exact re-ingest of the same texts under new ids: all dups
    from pyspark.sql import functions as F
    from tidierdb_jl_spark import TidyFrame

    renum = TidyFrame(
        _docs_batch(tables, 0, 60).df.withColumn(
            "doc_id", F.col("doc_id") + 500000
        )
    )
    got = st2.ingest(renum, "doc_id").collect()
    assert got["dup_of"].notna().all()
    assert st2.stats()["n_docs"] == st.stats()["n_docs"]


def test_neardupstate_create_validates(spark, tmp_path):
    from tidierdb_jl_spark.llm.dedupstate import NearDupState

    with pytest.raises(ValueError, match="must divide"):
        NearDupState.create(spark, str(tmp_path / "x"), num_perm=64, bands=10)
    NearDupState.create(spark, str(tmp_path / "y"), n_buckets=4)
    with pytest.raises(ValueError, match="already exists"):
        NearDupState.create(spark, str(tmp_path / "y"))


# ---------------------------------------------------------------------------
# EmbeddingDedupState (vector near-dup persistent state)
# ---------------------------------------------------------------------------


def test_embeddingdedupstate_matches_incremental_chain(spark, tables, tmp_path):
    """Differential: sequential EmbeddingDedupState ingests must assign
    the same dup_of as chaining embedding_dedup_incremental over the
    accumulated keeper-vector frames (same hyperplanes/threshold)."""
    from pyspark.sql import functions as F

    from tidierdb_jl_spark import TidyFrame
    from tidierdb_jl_spark.llm.dedup import embedding_dedup_incremental
    from tidierdb_jl_spark.llm.dedupstate import EmbeddingDedupState

    emb = tables["embeddings"].select("vec_id", "embedding")

    def rng(lo, hi, shift=0):
        return TidyFrame(
            emb.filter(f"vec_id >= {lo} AND vec_id < {hi}").df.withColumn(
                "vec_id", F.col("vec_id") + shift
            )
        )

    # batches 2/3 re-present earlier vectors under new ids: exact
    # cross-batch dups (cosine 1.0) with known sources
    batches = [
        rng(0, 150),
        TidyFrame(rng(150, 300).df.unionByName(rng(0, 40, shift=500000).df)),
        TidyFrame(rng(300, 500).df.unionByName(rng(200, 240, shift=600000).df)),
    ]
    st = EmbeddingDedupState.create(
        spark, str(tmp_path / "ed"), nbits=4, bands=16, n_buckets=16,
        expected_items=10_000,
    )
    seen = None
    for i, b in enumerate(batches):
        got = (
            st.ingest(b, "vec_id", "embedding", threshold=0.95)
            .collect()[["vec_id", "dup_of"]]
            .sort_values("vec_id")
            .reset_index(drop=True)
        )
        if seen is None:
            seen = TidyFrame(b.df.filter("false").select("vec_id", "embedding"))
        ref = (
            embedding_dedup_incremental(
                b, seen, "vec_id", "embedding", threshold=0.95
            )
            .collect()[["vec_id", "dup_of"]]
            .sort_values("vec_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, ref, check_dtype=False)
        kept = got[got["dup_of"].isna()]["vec_id"].tolist()
        seen = TidyFrame(
            seen.df.unionByName(
                b.df.where(F.col("vec_id").isin(kept)).select(
                    "vec_id", "embedding"
                )
            ).localCheckpoint(eager=True)
        )
        if i > 0:
            # every renumbered exact copy must be flagged with its source
            copies = got[got["vec_id"] >= 500000]
            assert copies["dup_of"].notna().all()
            assert (
                copies["dup_of"] == copies["vec_id"] % 100000
            ).all() or (copies["dup_of"] < 500000).all()
    assert st.stats()["n_vecs"] == 150 + 150 + 200
    assert st.stats()["dim"] == 64


def test_embeddingdedupstate_dim_guard_and_reopen(spark, tables, tmp_path):
    from tidierdb_jl_spark import TidyFrame
    from tidierdb_jl_spark.llm.dedupstate import EmbeddingDedupState

    p = str(tmp_path / "ed")
    st = EmbeddingDedupState.create(spark, p, n_buckets=4, expected_items=1000)
    emb = tables["embeddings"].filter("vec_id < 50").select("vec_id", "embedding")
    st.ingest(emb, "vec_id", "embedding")
    st2 = EmbeddingDedupState.open(spark, p)
    assert st2.stats() == st.stats() and st2.stats()["dim"] == 64
    bad = TidyFrame(
        emb.df.selectExpr("vec_id + 900000 AS vec_id", "slice(embedding, 1, 8) AS embedding")
    )
    with pytest.raises(ValueError, match="dim=64"):
        st2.ingest(bad, "vec_id", "embedding")
    # exact re-ingest under new ids: all dups, nothing new stored
    from pyspark.sql import functions as F

    renum = TidyFrame(emb.df.withColumn("vec_id", F.col("vec_id") + 700000))
    got = st2.ingest(renum, "vec_id", "embedding").collect()
    assert got["dup_of"].notna().all()
    assert st2.stats()["n_vecs"] == st.stats()["n_vecs"]


def test_dedupstate_merge_from(spark, tables, tmp_path):
    """Per-region states built independently fold into one global
    seen-set: overlaps dedup exactly, geometries need not match, and the
    merged state gates exactly like one built from the union."""
    a = DedupState.create(spark, str(tmp_path / "a"), n_buckets=8,
                          expected_items=10_000)
    b = DedupState.create(spark, str(tmp_path / "b"), n_buckets=4,
                          expected_items=500, fpp=0.2)  # different geometry
    a.ingest(_docs_batch(tables, 0, 120), "doc_id")
    b.ingest(_docs_batch(tables, 80, 250), "doc_id")  # overlaps a
    n_a = a.stats()["n_fingerprints"]
    n_new = a.merge_from(b)
    union_fps = set(
        with_fingerprint(_docs_batch(tables, 0, 250), "text")
        .collect()["fingerprint"]
    )
    assert a.stats()["n_fingerprints"] == len(union_fps) == n_a + n_new
    # the merged state gates the union exactly — nothing admitted twice,
    # genuinely-new rows still pass
    assert len(a.filter_new(_docs_batch(tables, 0, 250), "doc_id").collect()) == 0
    fresh = a.filter_new(_docs_batch(tables, 250, 300), "doc_id").collect()
    want, _ = _expected_new(_docs_batch(tables, 250, 300).collect(), union_fps)
    assert sorted(fresh["doc_id"]) == sorted(want["doc_id"])


def test_dedupstate_over_literal_cap_uses_broadcast_gate(spark, tables, tmp_path):
    """A state sized for 10^7+ expected fingerprints (bloom m > 2^26 bits)
    must keep its zero-I/O gate through the BROADCAST probe, never the
    plan literal: the filter plan stays small, carries the Arrow probe
    stage, and dedup semantics are unchanged."""
    st = DedupState.create(
        spark, str(tmp_path / "big"), n_buckets=8, expected_items=10_000_000
    )
    assert st._meta["bloom"]["m"] > (1 << 26)
    k1 = st.ingest(_docs_batch(tables, 0, 150), "doc_id")
    n1 = k1.df.count()
    assert n1 > 0
    fresh = st.filter_new(_docs_batch(tables, 100, 250), "doc_id")
    qe = fresh.df._jdf.queryExecution().toString()
    assert len(qe) < 500_000, "plan embeds the >2^26-bit bitmap as a literal"
    assert "ArrowEvalPython" in qe
    ids1 = {r[0] for r in k1.df.select("doc_id").collect()}
    ids2 = {r[0] for r in fresh.df.select("doc_id").collect()}
    assert ids2.isdisjoint(ids1)
    # replayed batch fully deduped through the broadcast gate
    assert st.ingest(_docs_batch(tables, 0, 250), "doc_id").df.count() == len(ids2)
    assert st.filter_new(_docs_batch(tables, 0, 250), "doc_id").df.count() == 0


# ---------------------------------------------------------------------------
# NearDupState max_bucket skew cap
# ---------------------------------------------------------------------------


def _fake_minhash(monkeypatch):
    """Make ``minhash_signature`` read the signature straight from the text
    (comma-separated ints), so band keys and est-Jaccard are chosen by the
    test instead of by the hash family."""
    from pyspark.sql import functions as F

    from tidierdb_jl_spark.llm import dedup

    def fake(tf, id_col, text_col="text", num_perm=64, shingle=3):
        return TidyFrame(tf.df.withColumn(
            "minhash",
            F.expr(f"transform(split({text_col}, ','), x -> CAST(x AS BIGINT))"),
        ))

    monkeypatch.setattr(dedup, "minhash_signature", fake)


def _sig_docs(spark, rows):
    return TidyFrame(spark.createDataFrame(
        [(i, ",".join(str(v) for v in sig)) for i, sig in rows],
        "doc_id BIGINT, text STRING",
    ))


def test_neardupstate_max_bucket_caps_state_partners(spark, tmp_path, monkeypatch):
    """num_perm=4, bands=4 (one component per band).  The probe [1,1,2,2]
    shares bands 0-1 with docs 1-3 and bands 2-3 with docs 4-6 (est 0.5,
    below the threshold) and all four with doc 10 (est 1.0).  Every band
    key of the probe therefore has four stored partners; with
    max_bucket=3 only the three smallest ids per key (never doc 10) reach
    the candidate join, so the probe is kept."""
    from tidierdb_jl_spark.llm.dedupstate import NearDupState

    _fake_minhash(monkeypatch)
    st = NearDupState.create(
        spark, str(tmp_path / "nd"), num_perm=4, bands=4, n_buckets=4,
        expected_items=1_000,
    )
    stored = [(1, [1, 1, 31, 41]), (2, [1, 1, 32, 42]), (3, [1, 1, 33, 43]),
              (4, [51, 61, 2, 2]), (5, [52, 62, 2, 2]), (6, [53, 63, 2, 2]),
              (10, [1, 1, 2, 2])]
    first = st.ingest(_sig_docs(spark, stored), "doc_id", threshold=0.7)
    assert first.collect()["dup_of"].isna().all()
    assert st.stats()["n_docs"] == 7

    probe = _sig_docs(spark, [(100, [1, 1, 2, 2])])
    for cap, want in [(3, None), (4, 10), (200, 10)]:
        out, _ = st.check(probe, "doc_id", threshold=0.7, max_bucket=cap)
        got = out.collect()["dup_of"].tolist()
        assert (got == [want]) if want is not None else pd.isna(got[0]), cap
    assert st.stats()["n_docs"] == 7  # check never records


def test_neardupstate_max_bucket_drops_hot_batch_key(spark, tmp_path, monkeypatch):
    """Within a batch, a band key held by more than ``max_bucket`` rows is
    dropped from the self-join; pairs that share a cold key still match."""
    from tidierdb_jl_spark.llm.dedupstate import NearDupState

    _fake_minhash(monkeypatch)
    batch = [(1, [7, 7, 7, 9]), (2, [7, 7, 7, 9]), (3, [7, 7, 7, 11]),
             (4, [7, 7, 7, 12]), (5, [7, 7, 7, 13])]
    for cap, want in [(3, {2: 1}), (200, {2: 1, 3: 1, 4: 1, 5: 1})]:
        st = NearDupState.create(
            spark, str(tmp_path / f"nd{cap}"), num_perm=4, bands=4,
            n_buckets=4, expected_items=1_000,
        )
        out, _ = st.check(_sig_docs(spark, batch), "doc_id", threshold=0.7,
                          max_bucket=cap)
        pdf = out.collect()
        got = {int(r.doc_id): int(r.dup_of)
               for r in pdf.itertuples() if not pd.isna(r.dup_of)}
        assert got == want, cap


# ---------------------------------------------------------------------------
# on-disk layout of the three dedup states
# ---------------------------------------------------------------------------


def _layout(root):
    """{subdir: (partition column, parquet columns as (name, type))}."""
    import pyarrow.parquet as pq

    out = {}
    for sub in sorted(os.listdir(root)):
        d = os.path.join(root, sub)
        if not os.path.isdir(d):
            continue
        parts = {p.split("=")[0] for p in os.listdir(d) if "=" in p}
        files = glob.glob(os.path.join(d, "*=*", "*.parquet"))
        assert files, sub
        schemas = {
            tuple((f.name, str(f.type)) for f in pq.read_schema(p))
            for p in files
        }
        assert len(schemas) == 1, (sub, schemas)
        out[sub] = (parts, schemas.pop())
    return out


def _meta(root, name):
    import json

    assert sorted(f for f in os.listdir(root) if f.endswith(".json")) == [name]
    with open(os.path.join(root, name)) as fh:
        return json.load(fh)


def test_dedup_states_on_disk_layout(spark, tables, tmp_path):
    """The byte layout a state directory is read back with: meta file name
    and keys, subdirectories, partition columns and parquet columns, after
    two ingests (so the second one appended to existing partitions)."""
    from pyspark.sql import functions as F

    from tidierdb_jl_spark.llm.dedupstate import (
        EmbeddingDedupState,
        NearDupState,
    )

    bloom_keys = ["bits", "k", "m"]

    p = str(tmp_path / "exact")
    st = DedupState.create(spark, p, n_buckets=4, expected_items=1_000)
    st.ingest(_docs_batch(tables, 0, 60), "doc_id")
    st.ingest(_docs_batch(tables, 40, 120), "doc_id")
    meta = _meta(p, "_dedup_state.json")
    assert sorted(meta) == ["bloom", "expected_items", "n_appends",
                            "n_buckets", "n_fingerprints"]
    assert sorted(meta["bloom"]) == bloom_keys and meta["n_appends"] == 2
    assert _layout(p) == {
        "data": ({"fp_bucket"}, (("fingerprint", "string"),)),
    }
    assert DedupState.open(spark, p).stats() == st.stats()

    p = str(tmp_path / "near")
    st = NearDupState.create(spark, p, num_perm=16, bands=4, n_buckets=4,
                             expected_items=1_000)
    st.ingest(_docs_batch(tables, 0, 60), "doc_id")
    st.ingest(_docs_batch(tables, 60, 120), "doc_id")
    meta = _meta(p, "_neardup_state.json")
    assert sorted(meta) == ["bands", "bloom", "expected_items", "n_appends",
                            "n_buckets", "n_docs", "num_perm", "shingle"]
    assert sorted(meta["bloom"]) == bloom_keys and meta["n_appends"] == 2
    assert _layout(p) == {
        "bands": ({"bb"}, (("doc_id", "int64"), ("band", "int32"),
                           ("bh", "int32"))),
        "sigs": ({"sb"}, (("doc_id", "int64"), ("minhash", "list<element: int64>"))),
    }
    assert NearDupState.open(spark, p).stats() == st.stats()

    p = str(tmp_path / "emb")
    st = EmbeddingDedupState.create(spark, p, n_buckets=4, expected_items=1_000)
    emb = tables["embeddings"].select("vec_id", "embedding")
    st.ingest(emb.filter("vec_id < 60"), "vec_id", "embedding")
    st.ingest(TidyFrame(emb.filter("vec_id >= 40 AND vec_id < 120").df
                        .withColumn("vec_id", F.col("vec_id") + 1000)),
              "vec_id", "embedding")
    meta = _meta(p, "_embdedup_state.json")
    assert sorted(meta) == ["bands", "bloom", "dim", "expected_items",
                            "n_appends", "n_buckets", "n_vecs", "nbits"]
    assert sorted(meta["bloom"]) == bloom_keys and meta["n_appends"] == 2
    assert _layout(p) == {
        "bands": ({"bb"}, (("vec_id", "int64"), ("band", "int32"),
                           ("sig", "int64"))),
        "vecs": ({"vb"}, (("vec_id", "int64"), ("unit", "list<element: double>"))),
    }
    assert EmbeddingDedupState.open(spark, p).stats() == st.stats()
