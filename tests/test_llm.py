"""Tests for the LLM-pipeline operators: text stats, dedup families,
similarity search, multimodal plumbing."""

import pyspark.sql.functions as F

from helpers import assert_matches_duckdb
from tidierdb_jl_spark.llm.dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_dedup_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_signature,
)
from tidierdb_jl_spark.llm.simsearch import cosine_topk, lsh_cosine_topk
from tidierdb_jl_spark.llm.textstats import (
    with_fingerprint,
    with_language_id,
    with_text_stats,
    with_token_count,
)


def test_token_count(tables, ddb):
    q = with_token_count(tables["documents"]).select("doc_id", "n_tokens")
    assert_matches_duckdb(
        q,
        ddb,
        """
        SELECT doc_id, CAST(CASE WHEN trim(text) = '' OR text IS NULL THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS INT) AS n_tokens
        FROM documents
        """,
        "token_count",
    )


def test_text_stats(tables, ddb):
    q = with_text_stats(tables["documents"]).select(
        "doc_id", "n_chars", "n_words", "avg_word_len", "punct_ratio"
    )
    assert_matches_duckdb(
        q,
        ddb,
        """
        WITH t AS (
          SELECT doc_id, text,
                 CASE WHEN trim(text) = '' OR text IS NULL THEN []
                      ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
          FROM documents)
        SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
               CAST(len(toks) AS INT) AS n_words,
               CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) END AS avg_word_len,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio
        FROM t
        """,
        "text_stats",
    )


def test_fingerprint(tables, ddb):
    q = with_fingerprint(tables["documents"]).select("doc_id", "fingerprint")
    assert_matches_duckdb(
        q,
        ddb,
        """
        SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
        FROM documents
        """,
        "fingerprint",
    )


def test_language_id_heuristic(spark):
    # NOTE: the driver's synthetic documents carry the same English tech
    # vocabulary under every lang label, so the label is untestable from
    # text; test the heuristic itself on real-language snippets
    from tidierdb_jl_spark import TidyFrame

    samples = [
        (1, "the cat is on the mat and it is happy with this", "en"),
        (2, "el gato esta en la casa y los perros con sus amigos", "es"),
        (3, "der hund und die katze sind mit dem kind im haus", "de"),
        (4, "le chat est dans la maison et les chiens sont pour nous", "fr"),
        (5, "这是一个中文句子", "zh"),
        (6, "", "und"),
    ]
    df = spark.createDataFrame(samples, "doc_id long, text string, expected string")
    out = with_language_id(TidyFrame(df)).collect()
    got = dict(zip(out["doc_id"], out["lang_pred"]))
    exp = dict(zip(out["doc_id"], out["expected"]))
    assert got == exp, f"lang-id mismatch: {got} vs {exp}"


def test_exact_dedup(tables, ddb):
    q = exact_dedup(tables["documents"], "doc_id").select(
        "doc_id", "fingerprint", "keep_id"
    )
    assert_matches_duckdb(
        q,
        ddb,
        """
        WITH fp AS (
          SELECT doc_id,
                 md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
          FROM documents)
        SELECT doc_id, fingerprint,
               min(doc_id) OVER (PARTITION BY fingerprint) AS keep_id
        FROM fp
        """,
        "exact_dedup",
    )


def test_minhash_detects_near_dups(spark, tables):
    # construct known near-dups: copy docs with one word changed
    from tidierdb_jl_spark import TidyFrame

    base = tables["documents"].head(50).df.select("doc_id", "text")
    clones = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xyzzy")).alias("text"),
    )
    corpus = TidyFrame(base.union(clones))
    pairs = minhash_dedup_pairs(corpus, "doc_id", "text", threshold=0.5).collect()
    found = set(zip(pairs["id_a"], pairs["id_b"]))
    hits = sum((d, d + 100000) in found for d in range(50))
    assert hits >= 40, f"minhash found only {hits}/50 planted near-dups"

    keep = minhash_dedup(corpus, "doc_id", "text", threshold=0.5).collect()
    kmap = dict(zip(keep["doc_id"], keep["keep_id"]))
    mapped = sum(kmap.get(d + 100000) == d for d in range(50))
    assert mapped >= 40


def test_minhash_estimates_track_exact_jaccard(tables):
    # the synthetic corpus plants genuine near-dups (distinct texts,
    # ~0.9+ 3-gram jaccard); every high-estimate LSH pair must be backed
    # by high exact n-gram jaccard (no hash-collision false positives)
    pairs = minhash_dedup_pairs(
        tables["documents"], "doc_id", "text", threshold=0.8
    ).collect()
    assert len(pairs) > 0, "expected planted near-dups in the corpus"
    ids = sorted(set(pairs["id_a"]) | set(pairs["id_b"]))
    exact = ngram_jaccard_pairs(
        tables["documents"].filter(
            f"doc_id in ({','.join(map(str, ids))})"
        ),
        "doc_id",
        threshold=0.0,
    ).collect()
    exact_map = {
        (a, b): j for a, b, j in zip(exact["id_a"], exact["id_b"], exact["jaccard"])
    }
    for a, b, est in zip(pairs["id_a"], pairs["id_b"], pairs["est_jaccard"]):
        true_j = exact_map.get((a, b), 0.0)
        assert true_j > 0.5, f"LSH flagged ({a},{b}) est={est} but true jaccard={true_j}"


def test_simhash(spark, tables):
    from tidierdb_jl_spark import TidyFrame

    sig = simhash_signature(tables["documents"].head(20)).collect()
    assert sig["simhash"].nunique() == len(sig)  # distinct docs → distinct sigs

    base = tables["documents"].head(30).df.select("doc_id", "text")
    clones = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" q")).alias("text"),
    )
    pairs = simhash_pairs(
        TidyFrame(base.union(clones)), "doc_id", max_hamming=6
    ).collect()
    found = set(zip(pairs["id_a"], pairs["id_b"]))
    hits = sum((d, d + 100000) in found for d in range(30))
    assert hits >= 20, f"simhash found only {hits}/30 planted near-dups"


def test_ngram_jaccard(tables, ddb):
    # identical docs → jaccard 1.0 with themselves planted via lang block
    pairs = ngram_jaccard_pairs(
        tables["documents"].head(40), "doc_id", threshold=0.05, block_cols=("lang",)
    ).collect()
    assert (pairs["jaccard"] <= 1.0).all()
    assert (pairs["id_a"] < pairs["id_b"]).all()


def test_cosine_topk(tables, ddb):
    emb = tables["embeddings"]
    queries = emb.filter("vec_id < 3")
    q = cosine_topk(emb, queries, k=5)
    assert_matches_duckdb(
        q,
        ddb,
        """
        WITH q AS (SELECT vec_id AS query_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                   FROM embeddings WHERE vec_id < 3),
        c AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
              FROM embeddings),
        scored AS (
          SELECT query_id, vec_id,
                 list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          FROM q, c WHERE query_id != vec_id),
        ranked AS (
          SELECT *, rank() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC NULLS LAST, vec_id ASC) AS r
          FROM scored)
        SELECT query_id, vec_id, cosine FROM ranked WHERE r <= 5
        """,
        "cosine_topk",
    )


def test_lsh_recall_vs_exact(tables):
    emb = tables["embeddings"]
    queries = emb.filter("vec_id < 10")
    exact = cosine_topk(emb, queries, k=5).collect()
    approx = lsh_cosine_topk(emb, queries, k=5, nbits=4, bands=16).collect()
    exact_pairs = set(zip(exact["query_id"], exact["vec_id"]))
    approx_pairs = set(zip(approx["query_id"], approx["vec_id"]))
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_multimodal_pipeline(spark, tables):
    from tidierdb_jl_spark.llm.multimodal import (
        attach_media_metadata,
        decode_image,
        frame_sample,
    )

    docs = tables["documents"].head(10).mutate(content="CAST(text AS BINARY)")
    tagged = attach_media_metadata(docs, "content", "image", "image/png")
    assert "media" in tagged.columns
    decoded = decode_image(tagged, fake=True).collect()
    assert {"width", "height", "mean_luma"} <= set(decoded.columns)
    assert decoded["width"].between(64, 320).all()
    # deterministic: same input → same fake decode
    again = decode_image(tagged, fake=True).collect()
    assert (decoded["width"] == again["width"]).all()

    frames = frame_sample(tagged, fake=True).collect()
    assert len(frames) >= 10 and "frame_idx" in frames.columns

    # real decode path surfaces a clear error
    import pytest as _pytest

    with _pytest.raises(Exception) as ei:
        decode_image(tagged, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or "codec" in str(ei.value)


def test_multimodal_resize_and_audio(spark, tables):
    from tidierdb_jl_spark.llm.multimodal import (
        attach_media_metadata,
        extract_audio_features,
        resize_image,
    )

    docs = tables["documents"].head(10).mutate(content="CAST(text AS BINARY)")
    tagged = attach_media_metadata(docs, "content", "image", "image/png")

    resized = resize_image(tagged, fake=True, width=128, height=96).collect()
    assert len(resized) == 10
    media = resized["media"].iloc[0]
    assert media["width"] == 128 and media["height"] == 96
    # deterministic stand-in bytes
    again = resize_image(tagged, fake=True, width=128, height=96).collect()
    assert (resized["content"] == again["content"]).all()

    audio = tables["documents"].head(10).mutate(content="CAST(text AS BINARY)")
    feats = extract_audio_features(audio, fake=True).collect()
    assert {"duration_ms", "rms", "zero_crossings"} <= set(feats.columns)
    assert (feats["duration_ms"] >= 1000).all()
    assert feats["rms"].between(0, 1).all()


def test_ivf_recall_vs_exact(tables):
    from tidierdb_jl_spark.llm.simsearch import ivf_cosine_topk

    emb = tables["embeddings"]
    q = emb.filter("vec_id < 10")
    exact = cosine_topk(emb, q, k=5).collect()
    approx = ivf_cosine_topk(emb, q, k=5, nlist=8, nprobe=3).collect()
    eset = set(zip(exact["query_id"], exact["vec_id"]))
    iset = set(zip(approx["query_id"], approx["vec_id"]))
    recall = len(iset & eset) / len(eset)
    assert recall >= 0.6, f"IVF recall@5 too low: {recall}"
    # determinism: identical result on a second run
    again = ivf_cosine_topk(emb, q, k=5, nlist=8, nprobe=3).collect()
    aset = set(zip(again["query_id"], again["vec_id"]))
    assert iset == aset


def test_embedding_cosine_dedup_lsh_recall(tables, ddb):
    from tidierdb_jl_spark.llm.dedup import embedding_cosine_pairs

    emb = tables["embeddings"]
    exact = embedding_cosine_pairs(emb, "vec_id", threshold=0.4, method="exact").collect()
    lsh = embedding_cosine_pairs(emb, "vec_id", threshold=0.4, method="lsh").collect()
    eset = set(zip(exact["id_a"], exact["id_b"]))
    lset = set(zip(lsh["id_a"], lsh["id_b"]))
    # LSH pairs are a subset (candidates verified by exact cosine) ...
    assert lset <= eset
    # ... with high recall at a near-dup threshold
    if eset:
        assert len(lset) / len(eset) >= 0.7, f"recall {len(lset)}/{len(eset)}"


def test_clean_corpus_pipeline(tables, ddb):
    """Composed C4-style cleaning: quality gates -> language filter ->
    exact dedup, hash-matched against a DuckDB mirror of the whole
    pipeline (oracle t52)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    from tidierdb_jl_spark.llm.pipeline import clean_corpus

    out = clean_corpus(tables["documents"], min_words=20).select(
        "doc_id", "n_words", "avg_word_len", "punct_ratio", "lang_pred"
    )
    assert_matches_duckdb(out, ddb, entry._clean_corpus_oracle())
    # survivors: every fingerprint appears once, and only en docs remain
    full = clean_corpus(tables["documents"], min_words=20).collect()
    assert full["fingerprint"].is_unique
    assert (full["lang_pred"] == "en").all()


def test_quality_filter_gates(tables):
    from tidierdb_jl_spark.llm.pipeline import quality_filter

    docs = tables["documents"]
    n_all = docs.df.count()
    kept = quality_filter(docs, min_words=20).df.count()
    assert 0 < kept < n_all  # the word-count gate must actually drop rows
    # degenerate gate drops everything
    assert quality_filter(docs, min_words=10**9).df.count() == 0


def test_clean_corpus_single_shuffle(tables):
    """Scale contract: everything before dedup fuses into the scan — the
    plan must contain exactly one exchange (the fingerprint window)."""
    from tidierdb_jl_spark.llm.pipeline import clean_corpus

    from tidierdb_jl_spark.plans.show import show_query

    plan = show_query(clean_corpus(tables["documents"]))
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, plan  # hashpartition for window (+AQE coalesce)


def test_segment_dedup_lines(spark):
    """Default newline segmenter: the duplicate line survives only in its
    first (doc_id, pos) occurrence; docs rebuild in original order; a doc
    whose every line is claimed elsewhere drops out."""
    import pandas as pd

    from tidierdb_jl_spark import db_table
    from tidierdb_jl_spark.llm.dedup import segment_dedup

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "alpha beta\nshared line\ngamma",
                "shared line\ndelta",
                "shared line",
            ],
        }
    )
    tf = db_table(spark, pdf, alias="segdocs")
    out = {r["doc_id"]: r for r in segment_dedup(tf).collect().to_dict("records")}
    assert out[1]["text_dedup"] == "alpha beta\nshared line\ngamma"
    assert out[1]["n_seg_total"] == 3 and out[1]["n_seg_kept"] == 3
    assert out[2]["text_dedup"] == "delta"
    assert out[2]["n_seg_kept"] == 1
    assert 3 not in out  # fully-duplicated doc dropped


def test_repetition_stats_values(spark):
    import pandas as pd

    from tidierdb_jl_spark import db_table
    from tidierdb_jl_spark.llm.textstats import with_repetition_stats

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a b c a b c a b", "one two three four", "xy"],
        }
    )
    tf = db_table(spark, pdf, alias="repdocs")
    rows = {
        r["doc_id"]: r
        for r in with_repetition_stats(tf).collect().to_dict("records")
    }
    # "a b c" x2, "b c a" x2, "c a b" x2 -> 6 grams, 3 distinct
    assert rows[1]["n_ngrams"] == 6
    assert abs(rows[1]["dup_ngram_frac"] - 0.5) < 1e-12
    assert rows[2]["dup_ngram_frac"] == 0.0
    assert rows[3]["n_ngrams"] == 0 and rows[3]["dup_ngram_frac"] == 0.0


def test_gopher_filter_gates(tables):
    """Every survivor satisfies all gates; tightening a gate strictly
    shrinks the result; stat columns ride along for audit."""
    from tidierdb_jl_spark.llm.pipeline import gopher_filter

    out = gopher_filter(tables["documents"])
    pdf = out.select(
        "n_words", "avg_word_len", "dup_ngram_frac", "stopword_frac"
    ).collect()
    assert len(pdf) > 0
    assert (pdf["n_words"] >= 30).all() and (pdf["avg_word_len"] >= 3.0).all()
    assert (pdf["dup_ngram_frac"] <= 0.05).all()
    assert (pdf["stopword_frac"] >= 0.02).all()
    tighter = gopher_filter(tables["documents"], min_stopword_frac=0.08)
    assert tighter.df.count() < len(pdf)


def test_gopher_stats_partitions_corpus(tables):
    """gopher_stats keeps every document and its gopher_pass flag agrees
    with gopher_filter's survivor set exactly."""
    from tidierdb_jl_spark.llm.pipeline import gopher_filter, gopher_stats

    stats = gopher_stats(tables["documents"])
    n_docs = tables["documents"].df.count()
    pdf = stats.select("doc_id", "gopher_pass").collect()
    assert len(pdf) == n_docs
    passed = set(pdf[pdf["gopher_pass"]]["doc_id"])
    survivors = set(gopher_filter(tables["documents"]).select("doc_id").collect()["doc_id"])
    assert passed == survivors and len(passed) > 0


def test_pack_sequences_invariants(tables):
    """Every non-tail block is exactly block_size tokens; block ids are
    dense per shard; spans tile each block with no gaps; deterministic."""
    from tidierdb_jl_spark.llm.packing import pack_sequences

    pdf = (
        pack_sequences(tables["documents"], "doc_id", 128)
        .df.orderBy("shard", "block_id").toPandas()
    )
    assert len(pdf) > 0
    for _, g in pdf.groupby("shard"):
        g = g.sort_values("block_id")
        assert (g["n_tokens"].iloc[:-1] == 128).all()
        assert list(g["block_id"]) == list(range(len(g)))
    for _, row in pdf.iterrows():
        assert len(row["tokens"]) == row["n_tokens"]
        spans = sorted((s["start"], s["end"]) for s in row["spans"])
        assert spans[0][0] == 0 and spans[-1][1] == row["n_tokens"]
        assert all(e1 == s2 for (_, e1), (s2, _) in zip(spans, spans[1:]))
        assert len(spans) == row["n_docs"]
    again = (
        pack_sequences(tables["documents"], "doc_id", 128)
        .df.orderBy("shard", "block_id").toPandas()
    )
    assert all(list(a) == list(b) for a, b in zip(pdf["tokens"], again["tokens"]))

    import pytest

    with pytest.raises(ValueError, match="block_size"):
        pack_sequences(tables["documents"], "doc_id", 0)


def test_connected_components_transitive(spark):
    """A chain must collapse to one component (the thing one-round min-id
    propagation gets wrong); singletons keep their own id."""
    from tidierdb_jl_spark.core import TidyFrame
    from tidierdb_jl_spark.llm.dedup import connected_components, dup_clusters

    pairs = spark.createDataFrame(
        [(4, 5), (3, 4), (1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    cc = dict(
        map(tuple, connected_components(TidyFrame(pairs)).collect()
            .itertuples(index=False))
    )
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    # diameter-4 chain: convergence diagnostic records the round count
    # (propagation needs several rounds + one no-change confirmation)
    from tidierdb_jl_spark.llm import dedup as dedup_mod

    assert 2 <= dedup_mod.LAST_CC_ROUNDS <= 6
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 42]],
                                 "doc_id long")
    dc = dict(
        map(tuple, dup_clusters(TidyFrame(docs), TidyFrame(pairs), "doc_id")
            .collect().itertuples(index=False))
    )
    assert dc[42] == 42 and dc[5] == 1 and dc[11] == 10


def test_dup_clusters_id_col_named_id(spark):
    """ADVICE r01: id_col literally named 'id' must not collide with the
    component frame's internal column names."""
    from tidierdb_jl_spark.core import TidyFrame
    from tidierdb_jl_spark.llm.dedup import dup_clusters

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 9]], "id long")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    dc = dict(
        map(tuple, dup_clusters(TidyFrame(docs), TidyFrame(pairs), "id")
            .collect().itertuples(index=False))
    )
    assert dc == {1: 1, 2: 1, 3: 3, 9: 9}


def test_exact_dedup_incremental_matches_batch_union(tables):
    """Ingesting the corpus in two batches must keep exactly the docs the
    one-shot dedup keeps among the NEW batch (min-id-first convention),
    and accept a precomputed fingerprint store for the seen side."""
    from tidierdb_jl_spark.llm.dedup import exact_dedup, exact_dedup_incremental

    docs = tables["documents"]
    new = docs.filter("doc_id >= 250")
    seen = docs.filter("doc_id < 250")
    inc = exact_dedup_incremental(new, seen, "doc_id").collect()
    full = exact_dedup(docs, "doc_id").collect()
    expect = sorted(
        int(r.doc_id)
        for r in full.itertuples()
        if r.doc_id >= 250 and r.keep_id == r.doc_id
        and r.fingerprint not in set(full[full.doc_id < 250]["fingerprint"])
    )
    assert sorted(inc["doc_id"].tolist()) == expect
    # seen side as a stored fingerprint frame (skip re-hashing history)
    store = exact_dedup(seen, "doc_id").select("fingerprint")
    inc2 = exact_dedup_incremental(new, store, "doc_id").collect()
    assert sorted(inc2["doc_id"].tolist()) == expect


def test_chunk_documents_covers_and_overlaps(tables):
    """Every token position is covered; consecutive chunks share exactly
    the overlap; concatenating step-sized prefixes rebuilds the doc."""
    from tidierdb_jl_spark.llm.packing import chunk_documents

    import pytest

    out = chunk_documents(tables["documents"], max_tokens=64, overlap=8).collect()
    docs = tables["documents"].collect()
    toks = {
        int(r.doc_id): (r.text or "").strip().lower().split()
        for r in docs.itertuples()
    }
    for doc_id, grp in out.groupby("doc_id"):
        grp = grp.sort_values("chunk_id")
        words = toks[int(doc_id)]
        # chunk grid: starts advance by step until the tail is covered
        starts = grp["chunk_start"].tolist()
        assert starts == [1 + 56 * i for i in range(len(starts))]
        last = grp.iloc[-1]
        assert last.chunk_start + last.chunk_n_tokens - 1 >= len(words)
        # reconstruction: step-sized prefixes + final tail == document
        rebuilt = []
        for r in grp.itertuples():
            ch = r.chunk_text.split()
            rebuilt.extend(ch[:56] if r.Index != grp.index[-1] else ch)
        assert rebuilt == words or (words == [] and rebuilt in ([], ['']))
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(tables["documents"], max_tokens=8, overlap=8)


def test_similarity_join_matches_brute_force(tables, spark):
    """Inverted-index cross-table match == quadratic cross join (minus
    zero-overlap pairs, which can't clear any positive threshold)."""
    import pytest

    from tidierdb_jl_spark.llm.dedup import similarity_join

    left = tables["documents"].filter("doc_id < 60")
    right = tables["documents"].filter("doc_id >= 60 AND doc_id < 160").rename(
        rid="doc_id"
    )
    out = similarity_join(
        left, right, "doc_id", "rid", threshold=0.3, max_doc_freq=None
    ).collect()
    # brute force in pandas over the same trigram definition
    docs = tables["documents"].collect()
    def shingles(text):
        toks = (text or "").strip().lower().split()
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    sh = {int(r.doc_id): shingles(r.text) for r in docs.itertuples()}
    expect = set()
    for a in range(60):
        for b in range(60, 160):
            if a in sh and b in sh:
                inter = len(sh[a] & sh[b])
                union = len(sh[a]) + len(sh[b]) - inter
                if union and inter / union >= 0.3:
                    expect.add((a, b))
    got = {(int(r.doc_id), int(r.rid)) for r in out.itertuples()}
    assert got == expect
    with pytest.raises(ValueError, match="must differ"):
        similarity_join(left, tables["documents"], "doc_id", "doc_id")


def test_minhash_dedup_incremental_matches_full_corpus(tables):
    """Batch-vs-store incremental MinHash dedup must assign every new doc
    the same dup partner a full-corpus run computes (ids grow
    monotonically: seen ids < new ids), using only the stored signature
    frame — never historical text."""
    from tidierdb_jl_spark.llm.dedup import (
        minhash_dedup_incremental,
        minhash_dedup_pairs,
        minhash_signature,
    )

    docs = tables["documents"]
    seen = docs.filter("doc_id < 250")
    new = docs.filter("doc_id >= 250")
    store = minhash_signature(seen, "doc_id").select("doc_id", "minhash")
    inc = minhash_dedup_incremental(new, store, "doc_id", threshold=0.8).collect()

    full_pairs = minhash_dedup_pairs(docs, "doc_id", threshold=0.8).collect()
    expect = {}
    for r in full_pairs.itertuples():
        a, b = int(r.id_a), int(r.id_b)
        if b >= 250:
            expect[b] = min(expect.get(b, a), a)
    got = {
        int(r.doc_id): int(r.dup_of)
        for r in inc.itertuples()
        if r.dup_of == r.dup_of and r.dup_of is not None
    }
    assert got == expect
    # non-dups keep NULL and every new doc appears exactly once
    assert len(inc) == new.collect().shape[0]
    assert inc["doc_id"].is_unique


def test_release_caches_returns_storage_to_baseline(tables):
    """The library's internal persists (signature/posting frames) are
    tracked; after materializing results, release_caches() returns the
    storage tier to its pre-call block count — the bounded-memory
    contract for per-batch ingest loops (VERDICT r4 #4)."""
    from tidierdb_jl_spark import release_caches
    from tidierdb_jl_spark.llm.dedup import (
        minhash_dedup_incremental,
        minhash_signature,
    )

    docs = tables["documents"]
    spark = docs.df.sparkSession
    release_caches()  # drop anything earlier tests left behind

    def live_ids() -> set:
        # RDD-id SETS, not counts: Spark's async ContextCleaner may GC an
        # EARLIER test's (e.g. localCheckpointed) RDD mid-test, which
        # makes count-based baseline comparisons flaky under a full-suite
        # run; what this test owns is only the ids it created
        m = spark.sparkContext._jsc.getPersistentRDDs()
        it, out = m.keySet().iterator(), set()
        while it.hasNext():
            out.add(it.next())
        return out

    baseline = live_ids()
    store = minhash_signature(docs.filter("doc_id < 250"), "doc_id").select(
        "doc_id", "minhash"
    )
    for lo, hi in ((250, 400), (400, 10**9)):
        batch = docs.filter(f"doc_id >= {lo} AND doc_id < {hi}")
        minhash_dedup_incremental(batch, store, "doc_id", threshold=0.8).collect()
    created = live_ids() - baseline
    assert len(created) >= 2  # one tracked signature frame per batch
    released = release_caches(blocking=True)
    assert released >= 2
    assert live_ids() & created == set()  # everything we created is gone


def test_similarity_join_default_cap_bounds_hot_shingles(spark):
    """Default max_doc_freq caps stop-shingles: a boilerplate phrase on
    every row of both sides would otherwise make the postings join
    quadratic (|L| x |R| candidates).  With the default cap the hot
    shingles are dropped from the index — boilerplate-only pairs vanish
    — while genuinely similar pairs (rare-shingle overlap) survive."""
    from tidierdb_jl_spark import TidyFrame
    from tidierdb_jl_spark.llm.dedup import similarity_join

    boiler = "all rights reserved subscribe to our newsletter today"
    uniq = lambda i, side: " ".join(f"{side}{i}w{j}" for j in range(6))
    left_rows = [(i, f"{boiler} {uniq(i, 'l')}") for i in range(300)]
    right_rows = [(i, f"{boiler} {uniq(i, 'r')}") for i in range(300)]
    # one true match: right row 0 repeats left row 0's rare tail
    right_rows[0] = (0, f"{boiler} {uniq(0, 'l')}")
    left = TidyFrame(spark.createDataFrame(left_rows, "doc_id long, text string"))
    right = TidyFrame(spark.createDataFrame(right_rows, "rid long, text string"))

    # identical texts share 12 trigram shingles; the 6 boilerplate-only
    # ones are dropped from the index, so the true pair scores
    # 6/(12+12-6) = 1/3 — documented underestimation, still well clear
    # of the boilerplate-only pairs (0 surviving common shingles)
    out = similarity_join(left, right, "doc_id", "rid", threshold=0.3).collect()
    assert set(zip(out["doc_id"], out["rid"])) == {(0, 0)}

    # bounded candidates, observable in the engine: with the cap, even
    # threshold=0 emits only rare-shingle pairs (the 300x300=90k
    # boilerplate candidate pairs never materialize)
    capped = similarity_join(left, right, "doc_id", "rid", threshold=1e-9).collect()
    assert len(capped) == 1
    # opt-out restores the exact (quadratic) pair set
    exact = similarity_join(
        left, right, "doc_id", "rid", threshold=1e-9, max_doc_freq=None
    )
    assert exact.df.count() == 300 * 300


def test_multimodal_real_codecs(spark):
    """PPM/BMP-24 images and PCM16 WAV decode for REAL (vendored
    pure-Python codecs) — features verified against independent
    numpy/stdlib oracles computed driver-side on the same bytes."""
    import io
    import struct
    import wave

    import numpy as np

    from tidierdb_jl_spark import TidyFrame
    from tidierdb_jl_spark.llm.multimodal import (
        _decode_image_blob,
        decode_image,
        extract_audio_features,
        resize_image,
    )

    rng = np.random.RandomState(7)

    def ppm6(arr):
        h, w = arr.shape[:2]
        return b"P6\n# comment\n%d %d\n255\n" % (w, h) + arr.tobytes()

    def ppm3(arr):
        h, w = arr.shape[:2]
        body = " ".join(str(v) for v in arr.reshape(-1))
        return (f"P3\n{w} {h}\n255\n{body}\n").encode()

    def bmp24(arr, top_down=False):
        h, w = arr.shape[:2]
        stride = (w * 3 + 3) & ~3
        rows = arr if top_down else arr[::-1]
        body = b"".join(
            rows[y][..., ::-1].tobytes() + b"\0" * (stride - w * 3)
            for y in range(h)
        )
        hdr = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        hdr += struct.pack("<IiiHHIIiiII", 40, w, h if not top_down else -h,
                           1, 24, 0, len(body), 2835, 2835, 0, 0)
        return hdr + body

    imgs = {
        1: rng.randint(0, 256, (5, 7, 3)).astype(np.uint8),
        2: rng.randint(0, 256, (9, 4, 3)).astype(np.uint8),
        3: rng.randint(0, 256, (6, 6, 3)).astype(np.uint8),
        4: rng.randint(0, 256, (8, 3, 3)).astype(np.uint8),
    }
    blobs = {1: ppm6(imgs[1]), 2: ppm3(imgs[2]),
             3: bmp24(imgs[3]), 4: bmp24(imgs[4], top_down=True)}
    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in blobs.items()], "img_id long, content binary"
    )
    out = decode_image(TidyFrame(df)).collect().set_index("img_id")
    for k, arr in imgs.items():
        assert (out.loc[k, "height"], out.loc[k, "width"]) == arr.shape[:2], k
        r, g, b = (arr[..., i].astype(float) for i in range(3))
        luma = float((0.299 * r + 0.587 * g + 0.114 * b).mean() / 255.0)
        assert abs(out.loc[k, "mean_luma"] - luma) < 1e-12, k

    # real resize: output re-decodes to the requested dims with exact
    # nearest-neighbor samples of the source
    rs = resize_image(TidyFrame(df), width=3, height=2).collect().set_index("img_id")
    for k, arr in imgs.items():
        got = _decode_image_blob(bytes(rs.loc[k, "content"]))
        assert got.shape == (2, 3, 3), k
        sh, sw = arr.shape[:2]
        ys = np.minimum((np.arange(2) + 0.5) * sh / 2, sh - 1).astype(int)
        xs = np.minimum((np.arange(3) + 0.5) * sw / 3, sw - 1).astype(int)
        assert (got == arr[ys][:, xs]).all(), k

    # real WAV: duration / rms / zero-crossings vs stdlib+numpy oracle
    def wav(pcm, rate=8000, ch=1):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(ch)
            wf.setsampwidth(2)
            wf.setframerate(rate)
            wf.writeframes(pcm.astype("<i2").tobytes())
        return buf.getvalue()

    t = np.arange(8000)
    tone = (np.sin(2 * np.pi * 440 * t / 8000) * 20000).astype(np.int16)
    noise = rng.randint(-30000, 30000, 4000).astype(np.int16)
    adf = spark.createDataFrame(
        [(1, bytearray(wav(tone))), (2, bytearray(wav(noise)))],
        "aud_id long, content binary",
    )
    feats = extract_audio_features(TidyFrame(adf)).collect().set_index("aud_id")
    for k, pcm in ((1, tone), (2, noise)):
        x = pcm.astype(np.float64) / 32768.0
        assert feats.loc[k, "duration_ms"] == round(len(x) * 1000 / 8000), k
        assert abs(feats.loc[k, "rms"] - np.sqrt((x**2).mean())) < 1e-12, k
        zc = int((np.signbit(x[1:]) != np.signbit(x[:-1])).sum())
        assert feats.loc[k, "zero_crossings"] == zc, k

    # unsupported magic (TIFF) still raises the clear codec error
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(1, bytearray(b"II*\x00furtherbytes"))], "i long, content binary"
    )
    with _pytest.raises(Exception) as ei:
        decode_image(TidyFrame(bad)).collect()
    assert "fake=True" in str(ei.value) or "unsupported" in str(ei.value)


def _ref_png_encode(arr, ctype, filters, palette=None, interlace=False):
    """Independent PNG writer for the decoder oracle: encodes with an
    EXPLICIT per-scanline filter choice so every unfilter path
    (None/Sub/Up/Average/Paeth) is exercised; ``interlace=True`` emits
    the Adam7 seven-pass layout (each pass filtered independently).
    Written from RFC 2083 directly — shares no code with the decoder
    under test."""
    import struct
    import zlib

    import numpy as np

    def chunk(tag, data):
        body = tag + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    h, w = arr.shape[:2]
    channels = arr.shape[2] if arr.ndim == 3 else 1
    img = arr.reshape(h, w, channels).astype(np.int32)
    bpp = channels

    def filter_rows(pix):
        ph = pix.shape[0]
        body = b""
        for y in range(ph):
            row = pix[y]
            prev = pix[y - 1] if y > 0 else np.zeros_like(row)
            ft = filters[y % len(filters)]
            enc = np.zeros_like(row)
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b
                elif ft == 3:
                    pred = (a + b) >> 1
                else:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (row[i] - pred) & 0xFF
            body += bytes([ft]) + enc.astype(np.uint8).tobytes()
        return body

    if interlace:
        raw = b""
        for x0, y0, dx, dy in ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                               (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                               (0, 1, 1, 2)):
            sub = img[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            raw += filter_rows(sub.reshape(sub.shape[0], -1))
    else:
        raw = filter_rows(img.reshape(h, w * channels))
    out = b"\x89PNG\r\n\x1a\n"
    out += chunk(b"IHDR",
                 struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, int(interlace)))
    if palette is not None:
        out += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    out += chunk(b"IDAT", zlib.compress(raw))
    out += chunk(b"IEND", b"")
    return out


def test_png_decode_real(spark):
    """8-bit PNG decodes for REAL through the vendored zlib+unfilter
    codec: RGB / RGBA / grayscale / gray+alpha / palette, every filter
    type, verified pixel-exact against an independently-written RFC 2083
    encoder + numpy expectations (mirrors the PPM oracle test)."""
    import numpy as np

    from tidierdb_jl_spark import TidyFrame
    from tidierdb_jl_spark.llm.multimodal import (
        _decode_image_blob,
        decode_image,
        resize_image,
    )

    rng = np.random.RandomState(11)
    rgb = rng.randint(0, 256, (13, 9, 3)).astype(np.uint8)
    rgba = rng.randint(0, 256, (7, 11, 4)).astype(np.uint8)
    gray = rng.randint(0, 256, (8, 6, 1)).astype(np.uint8)
    graya = rng.randint(0, 256, (5, 5, 2)).astype(np.uint8)
    palette = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    pidx = rng.randint(0, 16, (6, 10, 1)).astype(np.uint8)

    cases = {
        1: (_ref_png_encode(rgb, 2, [0, 1, 2, 3, 4]), rgb),
        2: (_ref_png_encode(rgba, 6, [4, 3, 2, 1, 0]), rgba[..., :3]),
        3: (_ref_png_encode(gray, 0, [1, 4]), np.repeat(gray, 3, axis=2)),
        4: (_ref_png_encode(graya, 4, [2, 4]), np.repeat(graya[..., :1], 3, axis=2)),
        5: (_ref_png_encode(pidx, 3, [0, 1], palette=palette), palette[pidx[..., 0]]),
    }
    # driver-side: pixel-exact decode
    for k, (blob, want) in cases.items():
        got = _decode_image_blob(blob)
        assert got.shape == want.shape, k
        assert (got == want).all(), f"case {k}: pixel mismatch"

    # distributed: features through decode_image match numpy oracle
    df = spark.createDataFrame(
        [(k, bytearray(v[0])) for k, v in cases.items()],
        "img_id long, content binary",
    )
    out = decode_image(TidyFrame(df)).collect().set_index("img_id")
    for k, (_, want) in cases.items():
        assert (out.loc[k, "height"], out.loc[k, "width"]) == want.shape[:2], k
        r, g, b = (want[..., i].astype(float) for i in range(3))
        luma = float((0.299 * r + 0.587 * g + 0.114 * b).mean() / 255.0)
        assert abs(out.loc[k, "mean_luma"] - luma) < 1e-12, k

    # resize accepts PNG input end-to-end (re-encoded as PPM)
    rs = resize_image(TidyFrame(df), width=4, height=3).collect().set_index("img_id")
    for k, (_, want) in cases.items():
        got = _decode_image_blob(bytes(rs.loc[k, "content"]))
        sh, sw = want.shape[:2]
        ys = np.minimum((np.arange(3) + 0.5) * sh / 3, sh - 1).astype(int)
        xs = np.minimum((np.arange(4) + 0.5) * sw / 4, sw - 1).astype(int)
        assert (got == want[ys][:, xs]).all(), k

    # unsupported PNG variants fail loudly, not wrongly
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        _decode_image_blob(_ref_png_encode(rgb, 2, [0])[:8] + b"\x00" * 4)  # no IHDR
    # Adam7 interlace decodes for real now: all five color types, every
    # filter, odd dims exercising empty/partial passes — pixel-exact
    for k, (arr2, ct, flt, pal, want) in {
        6: (rgb, 2, [0, 1, 2, 3, 4], None, rgb),
        7: (rgba, 6, [4, 3, 2, 1, 0], None, rgba[..., :3]),
        8: (gray, 0, [1, 4], None, np.repeat(gray, 3, axis=2)),
        9: (pidx, 3, [0, 1], palette, palette[pidx[..., 0]]),
    }.items():
        blob = _ref_png_encode(arr2, ct, flt, palette=pal, interlace=True)
        got = _decode_image_blob(blob)
        assert got.shape == want.shape, k
        assert (got == want).all(), f"interlaced case {k}: pixel mismatch"
    tiny = rng.randint(0, 256, (3, 2, 3)).astype(np.uint8)  # empty passes
    assert (_decode_image_blob(_ref_png_encode(tiny, 2, [4], interlace=True))
            == tiny).all()


def test_pq_recall_and_encode(tables):
    """PQ ADC + exact re-rank: recall@10 >= 0.5 per query vs the exact
    scan, deterministic across runs; pq_encode emits m small-int codes
    per vector (the 32x-compressed storage path)."""
    from tidierdb_jl_spark.llm.simsearch import pq_cosine_topk, pq_encode

    emb = tables["embeddings"]
    q = emb.filter("vec_id < 8")
    exact = cosine_topk(emb, q, k=10).collect()
    approx = pq_cosine_topk(emb, q, k=10).collect()
    ex = {qq: set(g["vec_id"]) for qq, g in exact.groupby("query_id")}
    ap = {qq: set(g["vec_id"]) for qq, g in approx.groupby("query_id")}
    for qq in ex:
        recall = len(ex[qq] & ap.get(qq, set())) / len(ex[qq])
        assert recall >= 0.5, f"query {qq}: recall {recall}"
    assert approx.equals(pq_cosine_topk(emb, q, k=10).collect())

    enc, books, subs = pq_encode(emb, m=8, nbits=6)
    pdf = enc.collect()
    assert all(len(c) == 8 for c in pdf["pq_code"])
    assert all(0 <= v < 64 for c in pdf["pq_code"] for v in c)
    assert len(books) == 8 and sum(len(i) for i in subs) == 64


def test_embedding_dedup_incremental_matches_full_corpus(tables):
    """Batch-vs-store incremental embedding dedup: every new vector gets
    the same dup partner a full-corpus LSH+exact-verify run assigns
    (seen ids < new ids), with zero false positives by construction."""
    from tidierdb_jl_spark.llm.dedup import (
        embedding_cosine_pairs,
        embedding_dedup_incremental,
    )

    emb = tables["embeddings"]
    new = emb.filter("vec_id >= 300")
    seen = emb.filter("vec_id < 300")
    # the synthetic corpus' planted pairs sit at cosine 0.4-0.48, the
    # same regime as the d42 contract — use its threshold
    inc = embedding_dedup_incremental(new, seen, threshold=0.4).collect()

    full = embedding_cosine_pairs(emb, threshold=0.4, method="exact").collect()
    expect = {}
    new_ids = set(int(v) for v in new.collect()["vec_id"])
    for a, b in zip(full["id_a"], full["id_b"]):
        a, b = int(a), int(b)
        if b in new_ids:
            expect[b] = min(expect.get(b, b), a)
        if a in new_ids and b in new_ids:
            pass  # covered by (a) above since a < b
    got = {
        int(r.vec_id): int(r.dup_of)
        for r in inc.itertuples()
        if r.dup_of == r.dup_of and r.dup_of is not None
    }
    # no false positives: every flagged partner is a true >=0.9 pair
    true_pairs = {(int(a), int(b)) for a, b in zip(full["id_a"], full["id_b"])}
    for nid, pid in got.items():
        assert (min(nid, pid), max(nid, pid)) in true_pairs, (nid, pid)
    # recall floor (same 0.5 regime as the d42 contract at this cosine
    # band): the min true partner must be recovered for most new dups
    assert expect, "corpus should contain planted near-dups across the split"
    hits = sum(got.get(nid) == pid for nid, pid in expect.items())
    assert hits >= 0.5 * len(expect), (hits, len(expect))
    assert len(inc) == new.collect().shape[0]


def test_mine_hard_negatives(tables, ddb):
    """Hard negatives: exact top-k minus presumed positives; random
    negatives: deterministic hash draw — both recomputed by DuckDB."""
    from tests.helpers import assert_matches_duckdb
    from tidierdb_jl_spark.llm.simsearch import mine_hard_negatives

    emb = tables["embeddings"]
    queries = emb.filter("vec_id < 5")
    out = mine_hard_negatives(
        emb, queries, k_hard=3, skip_top=1, n_random=2, pool_factor=8
    )
    pdf = out.collect()
    assert set(pdf["kind"]) == {"hard", "random"}
    per_q = pdf.groupby(["query_id", "kind"]).size()
    assert (per_q.xs("hard", level="kind") == 3).all()
    assert (per_q.xs("random", level="kind") == 2).all()
    assert pdf[pdf["kind"] == "random"]["cosine"].isna().all()
    assert (pdf["query_id"] != pdf["vec_id"]).all()

    n_corpus = emb.df.count()
    frac = min(1.0, 16 / n_corpus)
    thr = format(int(frac * 0xFFFFFFFF), "08x")
    assert_matches_duckdb(
        out,
        ddb,
        f"""
        WITH q AS (SELECT vec_id AS query_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
              FROM embeddings),
        scored AS (
          SELECT query_id, vec_id,
                 list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          FROM q, c WHERE query_id != vec_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC NULLS LAST, vec_id) AS r
          FROM scored),
        hard AS (SELECT query_id, vec_id, 'hard' AS kind, cosine,
                        CAST(r - 1 AS BIGINT) AS rank
                 FROM ranked WHERE r > 1 AND r <= 4),
        pool AS (SELECT vec_id FROM embeddings
                 WHERE substring(md5(CAST(vec_id AS VARCHAR) || 'pool'), 1, 8)
                       < '{thr}'),
        rnd AS (
          SELECT query_id, vec_id, 'random' AS kind, CAST(NULL AS DOUBLE) AS cosine,
                 CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY md5(CAST(query_id AS VARCHAR) || ':' ||
                                CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rank
          FROM (SELECT query_id FROM q) CROSS JOIN pool
          WHERE query_id != vec_id)
        SELECT * FROM hard
        UNION ALL
        SELECT * FROM rnd WHERE rank <= 2
        """,
    )


def test_read_media_files_e2e_real_decode(spark, tmp_path):
    """Files on disk -> binaryFile source -> REAL PPM decode: the full
    multimodal ingest loop with no fakes anywhere."""
    import numpy as np

    from tidierdb_jl_spark.llm.multimodal import (
        _encode_ppm,
        decode_image,
        read_media_files,
    )

    sizes = [(4, 3), (8, 2), (5, 5)]
    for i, (w, h) in enumerate(sizes):
        arr = np.fromfunction(
            lambda y, x, c: (y * 40 + x * 10 + c * 5 + i) % 256, (h, w, 3)
        )
        (tmp_path / f"img{i}.ppm").write_bytes(_encode_ppm(arr))
    (tmp_path / "notes.txt").write_text("not an image")

    media = read_media_files(
        spark, str(tmp_path), kind="image", mime="image/x-portable-pixmap",
        path_glob="*.ppm",
    )
    pdf = media.collect()
    assert len(pdf) == 3
    assert all(p.endswith(".ppm") for p in pdf["media_path"])
    assert (pdf["media_bytes"] > 0).all()
    assert all(m["kind"] == "image" for m in pdf["media"])

    decoded = decode_image(media).collect()  # real codec, no fake=
    got = {p.rsplit("/", 1)[-1]: (r_w, r_h) for p, r_w, r_h in zip(
        decoded["media_path"], decoded["width"], decoded["height"])}
    for i, (w, h) in enumerate(sizes):
        assert got[f"img{i}.ppm"] == (w, h)
    assert decoded["mean_luma"].between(0, 1).all()


def test_jpeg_decode_real(spark):
    """Baseline JPEG decodes for REAL through the vendored huffman+IDCT
    codec (llm/jpeg.py), verified against an independently-written
    T.81 encoder (tests/jpeg_ref.py): grayscale / 4:4:4 / 4:2:2 / 4:2:0,
    restart intervals, PSNR floors vs the pre-compression pixels, and an
    exactness case where quantization is lossless."""
    import numpy as np

    from jpeg_ref import encode_jpeg
    from tidierdb_jl_spark import TidyFrame
    from tidierdb_jl_spark.llm.jpeg import decode_jpeg
    from tidierdb_jl_spark.llm.multimodal import _decode_image_blob, decode_image

    rng = np.random.RandomState(5)

    def psnr(a, b):
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        return 99.0 if mse == 0 else 10 * np.log10(255**2 / mse)

    yy, xx = np.mgrid[0:24, 0:31]
    smooth = np.stack(
        [(yy * 3 + 20) % 256, (xx * 5 + 40) % 256, ((yy + xx) * 2 + 60) % 256], 2
    ).astype(np.uint8)
    noise = rng.randint(0, 256, (17, 19, 3)).astype(np.uint8)
    gray = ((yy * 7 + xx * 3) % 256).astype(np.uint8)

    # PSNR floors vs ORIGINAL pixels (encoder and decoder written
    # independently, so a shared systematic error can't hide: a zigzag or
    # dequant mismatch craters PSNR to ~10-15 dB)
    for img, sub, rst, floor in [
        (smooth, "444", 0, 38.0),
        (smooth, "422", 0, 36.0),
        (smooth, "420", 0, 36.0),
        (smooth, "420", 2, 36.0),  # restart markers every 2 MCUs
        (noise, "444", 0, 15.0),   # noise: JPEG floor, sanity only
    ]:
        got = decode_jpeg(encode_jpeg(img, subsampling=sub, restart_interval=rst))
        assert got.shape == img.shape, (sub, rst)
        assert psnr(img, got) >= floor, (sub, rst, psnr(img, got))

    # grayscale lands replicated to 3 channels
    g3 = decode_jpeg(encode_jpeg(gray))
    assert g3.shape == (24, 31, 3)
    assert psnr(np.stack([gray] * 3, 2), g3) >= 40.0
    assert (g3[..., 0] == g3[..., 1]).all()

    # DC-lossless case: flat 138-gray -> luma DC (138-128)*8/16 = 5
    # exactly, chroma 0; the decode must be bit-exact (one right answer,
    # immune to compensating encoder/decoder errors)
    flat = np.full((16, 16, 3), 138, np.uint8)
    assert (decode_jpeg(encode_jpeg(flat)) == flat).all()

    # distributed path: decode_image dispatches on the FFD8 magic
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg(smooth, subsampling="420")))],
        "img_id long, content binary",
    )
    out = decode_image(TidyFrame(df)).collect()
    assert (int(out.loc[0, "height"]), int(out.loc[0, "width"])) == (24, 31)

    # unsupported JPEG flavors fail loudly: lossless (SOF3)
    blob = bytearray(encode_jpeg(smooth))
    sof = blob.find(b"\xff\xc0")
    blob[sof + 1] = 0xC3
    import pytest as _pytest

    with _pytest.raises(Exception) as ei:
        _decode_image_blob(bytes(blob))
    assert "SOF3" in str(ei.value)


def test_gif_decode_real(spark):
    """GIF decodes for REAL through the vendored LZW codec (llm/gif.py),
    verified pixel-exact against an independently-written GIF89a encoder
    (tests/gif_ref.py — real variable-width LZW with growth + resets).
    GIF is lossless, so every case asserts exact equality: palette sizes
    across all code widths, a 90k-pixel image forcing 12-bit codes and a
    CLEAR reset, interlacing, local color tables, transparency, and a
    frame offset inside a larger logical screen."""
    import numpy as np

    from gif_ref import encode_gif, expected_rgb
    from tidierdb_jl_spark import TidyFrame
    from tidierdb_jl_spark.llm.gif import decode_gif
    from tidierdb_jl_spark.llm.multimodal import _decode_image_blob, decode_image

    rng = np.random.RandomState(7)

    cases = {}
    for k, (ncol, h, w, inter, local, trans) in enumerate(
        [
            (2, 3, 5, False, False, -1),     # 1-bit palette -> min code size 2
            (16, 40, 37, False, False, -1),
            (256, 120, 200, False, False, -1),
            (256, 300, 300, False, False, -1),  # forces 12-bit codes + reset
            (256, 64, 64, True, False, -1),     # interlaced (4-pass rows)
            (16, 33, 21, True, True, -1),       # interlaced + local table
            (16, 24, 24, False, False, 3),      # transparent index
        ],
        start=1,
    ):
        pal = rng.randint(0, 256, (ncol, 3)).astype(np.uint8)
        idx = rng.randint(0, ncol, (h, w)).astype(np.uint8)
        blob = encode_gif(idx, pal, interlace=inter, local_table=local, transparent=trans)
        cases[k] = (blob, expected_rgb(idx, pal, transparent=trans))

    # frame smaller than the logical screen: background compositing
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, (10, 12)).astype(np.uint8)
    blob = encode_gif(idx, pal, screen=(30, 25), offset=(5, 7), bg_index=2, transparent=1)
    cases[99] = (blob, expected_rgb(idx, pal, screen=(30, 25), offset=(5, 7),
                                    bg_index=2, transparent=1))

    for k, (blob, want) in cases.items():
        got = decode_gif(blob)
        assert got.shape == want.shape, k
        assert (got == want).all(), f"case {k}: pixel mismatch"

    # distributed path: decode_image dispatches on the GIF8 magic
    df = spark.createDataFrame(
        [(k, bytearray(blob)) for k, (blob, _) in cases.items()],
        "img_id long, content binary",
    )
    out = decode_image(TidyFrame(df)).collect().set_index("img_id")
    for k, (_, want) in cases.items():
        assert (out.loc[k, "height"], out.loc[k, "width"]) == want.shape[:2], k
        r, g, b = (want[..., i].astype(float) for i in range(3))
        luma = float((0.299 * r + 0.587 * g + 0.114 * b).mean() / 255.0)
        assert abs(out.loc[k, "mean_luma"] - luma) < 1e-12, k

    # corrupt streams fail loudly, not wrongly
    import pytest as _pytest

    good, _ = cases[2]
    with _pytest.raises(ValueError):
        decode_gif(good[:20])  # truncated before image data
    with _pytest.raises(Exception):
        decode_gif(b"GIF89a" + b"\x00" * 20)  # no image block


def test_gif_animation_and_frame_sample(spark):
    """Animated GIF decodes for REAL: per-frame delays, transparency and
    all three disposal methods (keep / restore-background /
    restore-previous) verified against a hand-built numpy compositing
    model, then frame_sample's timeline sampling (the frame on screen at
    each every_ms tick) checked end-to-end through mapInPandas."""
    import hashlib

    import numpy as np

    from gif_ref import encode_animated_gif
    from tidierdb_jl_spark import TidyFrame
    from tidierdb_jl_spark.llm.gif import iter_gif_frames
    from tidierdb_jl_spark.llm.multimodal import frame_sample

    rng = np.random.RandomState(9)
    pal = rng.randint(0, 256, (8, 3)).astype(np.uint8)
    sw, sh = 12, 10
    f1 = rng.randint(0, 8, (10, 12)).astype(np.uint8)  # full screen, keep
    f2 = rng.randint(0, 8, (4, 5)).astype(np.uint8)    # patch, restore-previous
    f3 = rng.randint(0, 8, (6, 6)).astype(np.uint8)    # transparent, restore-bg
    f4 = rng.randint(0, 8, (3, 3)).astype(np.uint8)
    blob = encode_animated_gif(
        [
            dict(idx=f1, delay_ms=100, disposal=1),
            dict(idx=f2, delay_ms=50, disposal=3, offset=(3, 2)),
            dict(idx=f3, delay_ms=200, disposal=2, transparent=2),
            dict(idx=f4, delay_ms=70, offset=(5, 5)),
        ],
        pal,
        (sw, sh),
    )

    # numpy compositing model, written independently of the decoder
    bg = pal[0]
    canvas = np.broadcast_to(bg, (sh, sw, 3)).copy()
    exp = []
    canvas[:] = pal[f1]
    exp.append(canvas.copy())
    saved = canvas[2:6, 3:8].copy()
    canvas[2:6, 3:8] = pal[f2]
    exp.append(canvas.copy())
    canvas[2:6, 3:8] = saved  # disposal 3: restore previous
    np.copyto(canvas[0:6, 0:6], pal[f3], where=(f3 != 2)[..., None])
    exp.append(canvas.copy())
    canvas[0:6, 0:6] = bg  # disposal 2: restore background
    canvas[5:8, 5:8] = pal[f4]
    exp.append(canvas.copy())

    frames = list(iter_gif_frames(blob))
    assert [d for d, _ in frames] == [100, 50, 200, 70]
    for i, (_, got) in enumerate(frames):
        assert np.array_equal(got, exp[i]), f"frame {i} mismatch"

    # distributed timeline sampling: ticks at 0,100,...,400ms over the
    # 420ms animation land on frames 0,1,2,2,3
    df = spark.createDataFrame([(1, bytearray(blob))], "vid long, content binary")
    out = frame_sample(TidyFrame(df), every_ms=100).collect()
    assert list(zip(out["frame_idx"], out["frame_ms"])) == [
        (0, 0), (1, 100), (2, 200), (2, 300), (3, 400)]
    fps = [hashlib.md5(c.tobytes()).hexdigest() for _, c in frames]
    assert list(out["frame_fp"]) == [fps[0], fps[1], fps[2], fps[2], fps[3]]


def test_jpeg_progressive_decode_real(spark):
    """Progressive JPEG (SOF2) decodes for REAL: an independently written
    T.81 Annex G encoder (tests/jpeg_ref.py) emits full successive-
    approximation scan scripts — interleaved DC first + per-bit DC
    refinement, per-band AC first with genuine cross-block EOB runs, AC
    refinement with position-ordered correction bits, restart markers —
    over the SAME quantized coefficients as its baseline mode, so
    progressive decode must equal baseline decode PIXEL-EXACTLY (one
    right answer; a single misread bit desyncs the whole scan)."""
    import numpy as np

    from jpeg_ref import encode_jpeg, encode_jpeg_progressive
    from tidierdb_jl_spark import TidyFrame
    from tidierdb_jl_spark.llm.jpeg import decode_jpeg
    from tidierdb_jl_spark.llm.multimodal import decode_image

    rng = np.random.RandomState(5)
    yy, xx = np.mgrid[0:24, 0:31]
    smooth = np.stack(
        [(yy * 3 + 20) % 256, (xx * 5 + 40) % 256, ((yy + xx) * 2 + 60) % 256], 2
    ).astype(np.uint8)
    gray = ((yy * 7 + xx * 3) % 256).astype(np.uint8)
    noise = rng.randint(0, 256, (17, 19, 3)).astype(np.uint8)

    cases = [
        (gray, "444", dict()),
        (smooth, "444", dict()),
        (smooth, "420", dict()),
        (smooth, "422", dict()),
        (noise, "444", dict()),
        (smooth, "444", dict(bands=((1, 5), (6, 63)))),       # spectral bands
        (smooth, "444", dict(al_ac=2, al_dc=2)),              # 2-bit SA
        (noise, "444", dict(restart_interval=2)),             # RSTn in scans
        (noise, "420", dict(bands=((1, 2), (3, 20), (21, 63)),
                            al_ac=2, restart_interval=3)),    # everything
    ]
    for i, (img, sub, kw) in enumerate(cases):
        base = decode_jpeg(encode_jpeg(img, subsampling=sub))
        prog = decode_jpeg(encode_jpeg_progressive(img, subsampling=sub, **kw))
        assert prog.shape == base.shape, i
        assert (prog == base).all(), f"case {i}: progressive != baseline"

    # distributed: the FFD8 dispatch handles progressive streams too
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg_progressive(smooth, subsampling="420")))],
        "img_id long, content binary",
    )
    out = decode_image(TidyFrame(df)).collect()
    assert (int(out.loc[0, "height"]), int(out.loc[0, "width"])) == (24, 31)


def test_image_codecs_robust_to_corruption():
    """Fuzz every vendored image decoder: random truncations, bit flips,
    splices and garbage must either decode to a well-formed HxWx3 uint8
    array or raise a clean error (ValueError / NotImplementedError /
    IndexError / struct.error / zlib.error) — never hang, never crash the
    interpreter, never return a malformed array."""
    import random
    import struct as _struct
    import sys
    import zlib

    import numpy as np

    sys.path.insert(0, "tests") if "tests" not in sys.path else None
    from gif_ref import encode_gif
    from jpeg_ref import encode_jpeg, encode_jpeg_progressive
    from tidierdb_jl_spark.llm.multimodal import _decode_image_blob, _encode_ppm
    from webp_ref import encode_webp_lossless

    rng = random.Random(31)
    nprng = np.random.RandomState(31)
    img = nprng.randint(0, 256, (16, 13, 3)).astype(np.uint8)
    pal = nprng.randint(0, 256, (16, 3)).astype(np.uint8)
    idx = nprng.randint(0, 16, (16, 13)).astype(np.uint8)
    seeds = [
        encode_jpeg(img),
        encode_jpeg_progressive(img),
        encode_gif(idx, pal),
        _encode_ppm(img),
        _ref_png_encode(img, 2, [0, 1, 2, 3, 4]),
        encode_webp_lossless(img, subtract_green=True),
    ]
    ok_errors = (ValueError, NotImplementedError, IndexError, KeyError,
                 _struct.error, zlib.error, OverflowError)
    for trial in range(250):
        blob = bytearray(seeds[trial % len(seeds)])
        op = trial % 5
        if op == 0:
            blob = blob[: rng.randrange(1, len(blob))]
        elif op == 1:
            for _ in range(rng.randrange(1, 8)):
                blob[rng.randrange(len(blob))] ^= 1 << rng.randrange(8)
        elif op == 2:
            i = rng.randrange(len(blob))
            blob = blob[:i] + blob[i + rng.randrange(1, 40):]
        elif op == 3:
            blob += bytes(rng.randrange(256) for _ in range(rng.randrange(1, 30)))
        else:
            i = rng.randrange(len(blob))
            blob = blob[:i] + bytes(
                rng.randrange(256) for _ in range(rng.randrange(1, 20))
            ) + blob[i:]
        try:
            out = _decode_image_blob(bytes(blob))
        except ok_errors:
            continue
        assert isinstance(out, np.ndarray) and out.ndim == 3, trial
        assert out.dtype == np.uint8 and out.shape[2] == 3, trial


def _ref_mp3_frames(specs, id3v2=0, id3v1=False):
    """Independent MPEG-audio stream builder (ISO 11172-3 header layout):
    ``specs`` = list of (version, layer, bitrate_kbps, sample_rate,
    mono) frames with dummy payloads; optional ID3v2 prefix and ID3v1
    trailer."""
    V = {1: 3, 2: 2, 2.5: 0}
    RATES = {3: [44100, 48000, 32000], 2: [22050, 24000, 16000],
             0: [11025, 12000, 8000]}
    BR = {
        (1, 1): [32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
        (1, 2): [32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
        (1, 3): [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
        (2, 1): [32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
        (2, 2): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
        (2, 3): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    }
    out = bytearray()
    if id3v2:
        out += b"ID3\x04\x00\x00" + bytes(
            [(id3v2 >> 21) & 0x7F, (id3v2 >> 14) & 0x7F,
             (id3v2 >> 7) & 0x7F, id3v2 & 0x7F]
        ) + bytes(id3v2)
    for ver, layer, kbps, rate, mono in specs:
        vb = V[ver]
        vgroup = 1 if vb == 3 else 2
        br_idx = BR[(vgroup, layer)].index(kbps) + 1
        sr_idx = RATES[vb].index(rate)
        h = (0x7FF << 21) | (vb << 19) | ((4 - layer) << 17) | (1 << 16)
        h |= (br_idx << 12) | (sr_idx << 10) | ((3 if mono else 0) << 6)
        if layer == 1:
            samples = 384
            flen = (12 * kbps * 1000 // rate) * 4
        else:
            samples = 1152 if (layer == 2 or vb == 3) else 576
            flen = (samples // 8) * kbps * 1000 // rate
        out += h.to_bytes(4, "big") + bytes(flen - 4)
    if id3v1:
        out += b"TAG" + bytes(125)
    return bytes(out)


def test_audio_metadata_mp3_and_wav(spark):
    """Container-metadata extraction without sample decode: exact MP3
    frame-walk duration (CBR + VBR, MPEG1/2/2.5, layers I-III, ID3v2/v1
    skip), WAV header metadata, NULLs for unknown containers."""
    import numpy as np

    from tidierdb_jl_spark import TidyFrame
    from tidierdb_jl_spark.llm.mp3 import parse_mp3
    from tidierdb_jl_spark.llm.multimodal import extract_audio_metadata

    # CBR MPEG1 Layer III stereo 44.1k: 40 frames x 1152 samples
    cbr = _ref_mp3_frames([(1, 3, 128, 44100, False)] * 40)
    m = parse_mp3(cbr)
    assert m == {"duration_ms": round(40 * 1152 * 1000 / 44100),
                 "sample_rate": 44100, "channels": 2, "bitrate_kbps": 128,
                 "n_frames": 40, "vbr": False}

    # VBR with ID3 tags both ends, mono
    vbr = _ref_mp3_frames(
        [(1, 3, 128, 44100, True)] * 10 + [(1, 3, 320, 44100, True)] * 10,
        id3v2=77, id3v1=True,
    )
    m = parse_mp3(vbr)
    assert m["vbr"] and m["n_frames"] == 20 and m["channels"] == 1
    assert m["bitrate_kbps"] == (128 * 10 + 320 * 10) / 20
    assert m["duration_ms"] == round(20 * 1152 * 1000 / 44100)

    # every version/layer family parses with its own samples-per-frame
    for ver, layer, kbps, rate, spf in [
        (1, 1, 256, 48000, 384), (1, 2, 192, 32000, 1152),
        (2, 3, 64, 22050, 576), (2.5, 3, 32, 8000, 576),
        (2, 2, 80, 24000, 1152),
    ]:
        m = parse_mp3(_ref_mp3_frames([(ver, layer, kbps, rate, False)] * 7))
        assert m["n_frames"] == 7 and m["sample_rate"] == rate
        assert m["duration_ms"] == round(7 * spf * 1000 / rate), (ver, layer)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_mp3(b"\x00" * 64)

    # distributed: WAV + MP3 + unknown through one mapInPandas pass
    import struct as _struct
    import wave as _wave
    import io as _io

    pcm = (np.sin(np.arange(8000) / 10) * 20000).astype("<i2")
    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as wf:
        wf.setnchannels(1); wf.setsampwidth(2); wf.setframerate(8000)
        wf.writeframes(pcm.tobytes())
    rows = [(1, bytearray(buf.getvalue())), (2, bytearray(vbr)),
            (3, bytearray(b"OggS" + bytes(60))), (4, None)]
    df = spark.createDataFrame(rows, "i long, content binary")
    out = extract_audio_metadata(TidyFrame(df)).collect().set_index("i")
    assert out.loc[1, "codec"] == "wav" and out.loc[1, "duration_ms"] == 1000
    assert out.loc[1, "sample_rate"] == 8000 and out.loc[1, "bitrate_kbps"] == 128.0
    assert out.loc[2, "codec"] == "mp3" and bool(out.loc[2, "vbr"])
    assert out.loc[2, "duration_ms"] == round(20 * 1152 * 1000 / 44100)
    assert out.loc[3, "codec"] is None or pd_isna_safe(out.loc[3, "codec"])
    assert out.loc[4, "codec"] is None or pd_isna_safe(out.loc[4, "codec"])


def pd_isna_safe(v):
    import pandas as pd

    return pd.isna(v)


def _ref_mp4(tracks, timescale=1000, duration=None, brand=b"isom"):
    """Independent ISO-BMFF builder (ISO 14496-12 box layout): ``tracks``
    = list of dicts with keys handler ('vide'/'soun'), codec (fourcc),
    width/height."""
    import struct as _s

    def box(btype, payload):
        return _s.pack(">I", len(payload) + 8) + btype + payload

    def full(btype, ver, flags, payload):
        return box(btype, bytes([ver]) + flags.to_bytes(3, "big") + payload)

    traks = b""
    for t in tracks:
        w, h = t.get("width", 0), t.get("height", 0)
        # v0: 72 bytes (times/ids/layer/volume/matrix) between verflags
        # and the 16.16 width/height — total payload 84 per ISO 14496-12
        tkhd = full(b"tkhd", 0, 7, bytes(72) + _s.pack(">II", w << 16, h << 16))
        hdlr = full(b"hdlr", 0, 0, bytes(4) + t["handler"].encode() + bytes(13))
        entry = box(t["codec"].encode(), bytes(8))
        stsd = full(b"stsd", 0, 0, _s.pack(">I", 1) + entry)
        stbl = box(b"stbl", stsd)
        minf = box(b"minf", stbl)
        mdhd = full(b"mdhd", 0, 0, _s.pack(">IIIIHH", 0, 0, timescale,
                                           duration or 0, 0x55C4, 0))
        mdia = box(b"mdia", mdhd + hdlr + minf)
        traks += box(b"trak", tkhd + mdia)
    mvhd = full(b"mvhd", 0, 0, _s.pack(">IIII", 0, 0, timescale, duration or 0)
                + bytes(80))
    moov = box(b"moov", mvhd + traks)
    return box(b"ftyp", brand + bytes(4) + b"isomiso2") + moov + box(b"mdat", bytes(16))


def test_video_metadata_mp4_and_gif(spark):
    """Container-metadata extraction for video: MP4 box-tree walk
    (duration from mvhd timescale, dimensions from tkhd 16.16 fixed
    point, per-handler codec fourcc from stsd) and animated GIF (exact
    summed frame delays); NULLs for unknown containers."""
    import numpy as np

    from gif_ref import encode_animated_gif
    from tidierdb_jl_spark import TidyFrame
    from tidierdb_jl_spark.llm.mp4 import parse_mp4
    from tidierdb_jl_spark.llm.multimodal import extract_video_metadata

    mp4 = _ref_mp4(
        [dict(handler="vide", codec="avc1", width=640, height=360),
         dict(handler="soun", codec="mp4a")],
        timescale=600, duration=3300,  # 5.5 s
    )
    m = parse_mp4(mp4)
    assert m["duration_ms"] == 5500 and m["timescale"] == 600
    assert (m["width"], m["height"]) == (640, 360)
    assert m["n_tracks"] == 2 and m["major_brand"] == "isom"
    assert m["video_codec"] == "avc1" and m["audio_codec"] == "mp4a"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_mp4(b"\x00" * 64)

    rng = np.random.RandomState(3)
    pal = rng.randint(0, 256, (8, 3)).astype(np.uint8)
    gif = encode_animated_gif(
        [dict(idx=rng.randint(0, 8, (10, 12)).astype(np.uint8), delay_ms=100),
         dict(idx=rng.randint(0, 8, (10, 12)).astype(np.uint8), delay_ms=250)],
        pal, (12, 10),
    )

    rows = [(1, bytearray(mp4)), (2, bytearray(gif)),
            (3, bytearray(b"RIFF" + bytes(20))), (4, None)]
    df = spark.createDataFrame(rows, "i long, content binary")
    out = extract_video_metadata(TidyFrame(df)).collect().set_index("i")
    assert out.loc[1, "container"] == "mp4" and out.loc[1, "duration_ms"] == 5500
    assert (out.loc[1, "width"], out.loc[1, "height"]) == (640, 360)
    assert out.loc[1, "video_codec"] == "avc1"
    assert out.loc[2, "container"] == "gif" and out.loc[2, "duration_ms"] == 350
    assert (out.loc[2, "width"], out.loc[2, "height"]) == (12, 10)
    assert pd_isna_safe(out.loc[3, "container"]) and pd_isna_safe(out.loc[4, "container"])


def test_media_metadata_parsers_robust():
    """Fuzz parse_mp3 / parse_mp4: corruptions and hostile inputs
    (including deeply nested boxes) must parse a subset or raise
    ValueError — never hang, recurse out, or return malformed dicts."""
    import random
    import struct as _s

    from tidierdb_jl_spark.llm.mp3 import parse_mp3
    from tidierdb_jl_spark.llm.mp4 import parse_mp4

    rng = random.Random(41)
    mp3 = _ref_mp3_frames([(1, 3, 128, 44100, False)] * 12, id3v2=30, id3v1=True)
    mp4 = _ref_mp4([dict(handler="vide", codec="avc1", width=64, height=48)],
                   timescale=1000, duration=2500)
    # hostile: 64 levels of nested moov boxes
    bomb = b""
    for _ in range(64):
        bomb = _s.pack(">I", len(bomb) + 8) + b"moov" + bomb
    bomb = _s.pack(">I", 16) + b"ftyp" + b"isom" + bytes(4) + bomb
    try:
        parse_mp4(bomb)
    except ValueError:
        pass

    for trial in range(200):
        seed, parse = (mp3, parse_mp3) if trial % 2 else (mp4, parse_mp4)
        blob = bytearray(seed)
        op = trial % 4
        if op == 0:
            blob = blob[: rng.randrange(1, len(blob))]
        elif op == 1:
            for _ in range(rng.randrange(1, 6)):
                blob[rng.randrange(len(blob))] ^= 1 << rng.randrange(8)
        elif op == 2:
            i = rng.randrange(len(blob))
            blob = blob[:i] + blob[i + rng.randrange(1, 30):]
        else:
            blob += bytes(rng.randrange(256) for _ in range(rng.randrange(1, 30)))
        try:
            out = parse(bytes(blob))
        except (ValueError, IndexError, OverflowError):
            continue
        assert isinstance(out, dict)
    # uncorrupted still parse
    assert parse_mp3(mp3)["n_frames"] == 12
    assert parse_mp4(mp4)["duration_ms"] == 2500


def test_webp_lossless_decode_real(spark):
    """WebP lossless (VP8L) decodes for REAL through the vendored
    decoder, verified pixel-exact (lossless) against an independently
    written spec encoder (tests/webp_ref.py): canonical prefix codes
    (simple + code-length-code forms), color cache, LZ77 backward
    references, meta prefix groups, and all four transforms — predictor
    (all 14 modes), color, subtract-green, palette with every sub-byte
    packing.  Lossy WebP fails loudly."""
    import numpy as np

    from tidierdb_jl_spark import TidyFrame
    from tidierdb_jl_spark.llm.multimodal import _decode_image_blob, decode_image
    from tidierdb_jl_spark.llm.webp import decode_webp
    from webp_ref import encode_webp_lossless

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (24, 17, 3)).astype(np.uint8)
    rep = np.tile(rng.randint(0, 256, (4, 6, 3)).astype(np.uint8), (5, 6, 1))
    modes = (np.arange(6 * 5).reshape(6, 5) % 14).astype(np.uint8)
    cte = rng.randint(0, 256, (6, 5, 3)).astype(np.int32)
    pal16 = rng.randint(0, 256, (13, 3)).astype(np.uint8)

    cases = {
        "plain": (img, {}),
        "cache+lz77": (rep, dict(cache_bits=6, lz77=True)),
        "subtract_green": (img, dict(subtract_green=True)),
        "predictor14": (rng.randint(0, 256, (21, 18, 3)).astype(np.uint8),
                        dict(predictor=(2, modes))),
        "color": (img, dict(color=(2, cte))),
        "palette_packed": (pal16[rng.randint(0, 13, (15, 23))], dict(palette=True)),
        "meta_groups": (img, dict(meta=(3, (np.indices((3, 3)).sum(0) % 2)))),
        "stack": (rep, dict(cache_bits=5, lz77=True, subtract_green=True,
                            predictor=(2, (np.arange(45).reshape(5, 9) % 14
                                           ).astype(np.uint8)))),
    }
    for name, (src, kw) in cases.items():
        got = decode_webp(encode_webp_lossless(src, **kw))
        assert got.shape == src.shape, name
        assert (got == src).all(), f"{name}: pixel mismatch"

    # distributed dispatch on the RIFF/WEBP magic
    df = spark.createDataFrame(
        [(1, bytearray(encode_webp_lossless(img, subtract_green=True)))],
        "img_id long, content binary",
    )
    out = decode_image(TidyFrame(df)).collect()
    assert (int(out.loc[0, "height"]), int(out.loc[0, "width"])) == (24, 17)

    # lossy VP8 fails loudly with the fake=True hint
    import pytest as _pytest

    with _pytest.raises(NotImplementedError) as ei:
        _decode_image_blob(b"RIFF\x00\x00\x00\x00WEBPVP8 \x00\x00\x00\x00")
    assert "fake=True" in str(ei.value)


def test_webp_predictor13_c_truncation():
    """ADVICE r6: ClampAddSubtractHalf divides by 2 with C semantics
    (truncate toward zero), not Python floor — they differ by 1 when
    (ave - TL) is negative and odd.  Hand-computed case: TL=109, L=T=100
    → ave=100, d=-9 → libwebp predicts 100 + trunc(-9/2) = 96 (the floor
    bug gave 95).  The roundtrip oracle can't see this (encoder and
    decoder shared the formula), so this pins the spec value directly."""
    import numpy as np

    from tidierdb_jl_spark.llm.webp import _inverse_predictor

    # desired decoded pixels (A,R,G,B); residuals derived per the scan
    # order: p00 pred=[255,0,0,0], row-0 pred=left, col-0 pred=above
    res = np.zeros((2, 2, 4), np.int32)
    res[0, 0] = [0, 109, 109, 109]          # -> [255,109,109,109] (TL)
    res[0, 1] = [0, 247, 247, 247]          # 109-9 mod 256 -> 100 (T)
    res[1, 0] = [0, 247, 247, 247]          # -> 100 (L)
    res[1, 1] = [0, 0, 0, 0]                # pure prediction
    modes = np.full((1, 1), 13, np.uint8)
    out = _inverse_predictor(res, modes, shift=2)
    assert tuple(out[1, 1]) == (255, 96, 96, 96), (
        f"mode-13 must truncate toward zero, got {out[1, 1]}"
    )


def test_webp_vp8x_container_with_vp8l():
    """ADVICE r6: a VP8X extended container (EXIF/ICC metadata) wrapping
    a lossless VP8L chunk must decode — only pure lossy (VP8 ) rejects."""
    import struct

    import numpy as np

    from tidierdb_jl_spark.llm.webp import decode_webp
    from webp_ref import encode_webp_lossless

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (9, 11, 3)).astype(np.uint8)
    enc = encode_webp_lossless(img)
    vp8l_chunk = enc[12:]  # tag + size + payload (+pad)
    vp8x = b"VP8X" + struct.pack("<I", 10) + bytes(10)
    body = b"WEBP" + vp8x + vp8l_chunk
    wrapped = b"RIFF" + struct.pack("<I", len(body)) + body
    got = decode_webp(wrapped)
    assert (got == img).all()


def test_jpeg_multiscan_baseline():
    """Multi-scan (non-interleaved) baseline JPEG decodes for REAL
    (was r6's loud gate): an independently written T.81 §B.2.3 encoder
    (tests/jpeg_ref.py:encode_jpeg_multiscan) emits one SOS per component
    over the component's NOMINAL block grid — the same quantized
    coefficients as the interleaved encoder, so multi-scan decode must
    equal interleaved decode PIXEL-EXACTLY, including subsampled chroma
    (where nominal grid != padded MCU grid) and per-scan restart markers
    (one data unit = one MCU in a non-interleaved scan)."""
    import numpy as np

    from jpeg_ref import encode_jpeg, encode_jpeg_multiscan
    from tidierdb_jl_spark.llm.jpeg import decode_jpeg

    rng = np.random.RandomState(11)
    yy, xx = np.mgrid[0:24, 0:31]
    smooth = np.stack(
        [(yy * 3 + 20) % 256, (xx * 5 + 40) % 256, ((yy + xx) * 2 + 60) % 256], 2
    ).astype(np.uint8)
    gray = ((yy * 7 + xx * 3) % 256).astype(np.uint8)
    noise = rng.randint(0, 256, (17, 19, 3)).astype(np.uint8)

    cases = [
        (gray, "444", dict()),
        (smooth, "444", dict()),
        (smooth, "420", dict()),   # chroma nominal grid < padded MCU grid
        (smooth, "422", dict()),
        (noise, "444", dict()),
        (noise, "420", dict(restart_interval=2)),  # RSTn per scan
        (smooth, "422", dict(restart_interval=3)),
    ]
    for i, (img, sub, kw) in enumerate(cases):
        base = decode_jpeg(encode_jpeg(img, subsampling=sub))
        multi = decode_jpeg(encode_jpeg_multiscan(img, subsampling=sub, **kw))
        assert multi.shape == base.shape, i
        assert (multi == base).all(), f"case {i}: multi-scan != interleaved"


def test_image_metadata_header_only(spark):
    """Header-only image metadata (no pixel decode): dimensions /
    depth / channels parsed from the first bytes of every container the
    codecs decode — verified against REAL encoder output (jpeg_ref,
    webp_ref, gif_ref, the RFC 2083 PNG encoder above) plus hand-built
    VP8X / lossy-VP8 headers whose sample decode is codec-gated.  The
    100 TB gate/bucket pass runs THIS, not decode_image."""
    import struct as _s

    import numpy as np

    from gif_ref import encode_gif
    from jpeg_ref import encode_jpeg, encode_jpeg_progressive
    from tidierdb_jl_spark import TidyFrame
    from tidierdb_jl_spark.llm.imagemeta import parse_image_header
    from tidierdb_jl_spark.llm.multimodal import (
        _encode_ppm,
        extract_image_metadata,
    )
    from webp_ref import encode_webp_lossless

    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, (24, 17, 3)).astype(np.uint8)
    gray = rng.randint(0, 256, (9, 31, 1)).astype(np.uint8)
    rgba = rng.randint(0, 256, (6, 5, 4)).astype(np.uint8)

    # real encoders -> exact header facts
    assert parse_image_header(encode_jpeg(rgb)) == {
        "format": "jpeg", "width": 17, "height": 24,
        "bit_depth": 8, "n_channels": 3}
    assert parse_image_header(encode_jpeg(gray[..., 0])) == {
        "format": "jpeg", "width": 31, "height": 9,
        "bit_depth": 8, "n_channels": 1}
    assert parse_image_header(encode_jpeg_progressive(rgb)) == {
        "format": "jpeg", "width": 17, "height": 24,
        "bit_depth": 8, "n_channels": 3}
    assert parse_image_header(_ref_png_encode(rgb, 2, [0])) == {
        "format": "png", "width": 17, "height": 24,
        "bit_depth": 8, "n_channels": 3}
    assert parse_image_header(_ref_png_encode(rgba, 6, [4])) == {
        "format": "png", "width": 5, "height": 6,
        "bit_depth": 8, "n_channels": 4}
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    idx = rng.randint(0, 256, (8, 12)).astype(np.uint8)
    assert parse_image_header(encode_gif(idx, pal)) == {
        "format": "gif", "width": 12, "height": 8,
        "bit_depth": 8, "n_channels": 3}
    assert parse_image_header(encode_webp_lossless(rgb)) == {
        "format": "webp", "width": 17, "height": 24,
        "bit_depth": 8, "n_channels": 3}
    assert parse_image_header(_encode_ppm(rgb)) == {
        "format": "ppm", "width": 17, "height": 24,
        "bit_depth": 8, "n_channels": 3}

    # hand-built containers (sample decode gated; header must parse)
    def riff(*chunks):
        body = b"WEBP"
        for cc, payload in chunks:
            body += cc + _s.pack("<I", len(payload)) + payload
            if len(payload) & 1:
                body += b"\x00"
        return b"RIFF" + _s.pack("<I", len(body)) + body

    lossy = riff((b"VP8 ", bytes(3) + b"\x9d\x01\x2a"
                  + _s.pack("<HH", 640, 480) + bytes(16)))
    assert parse_image_header(lossy) == {
        "format": "webp", "width": 640, "height": 480,
        "bit_depth": 8, "n_channels": 3}
    vp8x = riff((b"VP8X", bytes([0x10]) + bytes(3)
                 + (1919).to_bytes(3, "little") + (1079).to_bytes(3, "little")))
    assert parse_image_header(vp8x) == {
        "format": "webp", "width": 1920, "height": 1080,
        "bit_depth": 8, "n_channels": 4}
    bmp = (b"BM" + _s.pack("<IHHI", 122, 0, 0, 122)
           + _s.pack("<IiiHH", 40, 33, -21, 1, 24) + bytes(84))
    assert parse_image_header(bmp) == {
        "format": "bmp", "width": 33, "height": 21,
        "bit_depth": 8, "n_channels": 3}

    # never raises: truncations and garbage -> None (or partial parse)
    for blob in (b"", b"\xff\xd8", b"\x89PNG\r\n\x1a\n\x00",
                 b"GIF89a\x01", b"RIFF\x04\x00\x00\x00WEBP",
                 b"BM" + bytes(10), b"P6 # comment", bytes(64)):
        out = parse_image_header(blob)
        assert out is None or isinstance(out, dict)
    # JPEG with SOS before SOF (no dims recoverable) -> None
    assert parse_image_header(b"\xff\xd8\xff\xda\x00\x04\x00\x00") is None

    # distributed: mixed formats + unknown + NULL through one pass
    rows = [(1, bytearray(encode_jpeg(rgb))),
            (2, bytearray(_ref_png_encode(rgba, 6, [0]))),
            (3, bytearray(lossy)),
            (4, bytearray(b"not an image")),
            (5, None)]
    df = spark.createDataFrame(rows, "i long, content binary")
    out = extract_image_metadata(TidyFrame(df)).collect().set_index("i")
    assert out.loc[1, "format"] == "jpeg" and out.loc[1, "width"] == 17
    assert out.loc[2, "format"] == "png" and out.loc[2, "n_channels"] == 4
    assert out.loc[3, "format"] == "webp" and out.loc[3, "width"] == 640
    assert pd_isna_safe(out.loc[4, "format"]) and pd_isna_safe(out.loc[5, "width"])


def test_read_media_stream_incremental_pickup(spark, tmp_path):
    """Streaming media ingest (read_media_stream): blobs landing under a
    directory arrive exactly once through the same schema as the batch
    reader, and header-only metadata extraction works on the stream's
    output unchanged."""
    import numpy as np

    from tidierdb_jl_spark.llm.multimodal import (
        _encode_ppm,
        extract_image_metadata,
        read_media_files,
        read_media_stream,
    )
    from tidierdb_jl_spark.streaming.stream import write_stream

    src = tmp_path / "blobs"
    src.mkdir()

    def img(name, w, h):
        arr = np.fromfunction(lambda y, x, c: (y + x + c) % 256, (h, w, 3))
        (src / name).write_bytes(_encode_ppm(arr))

    img("a.ppm", 4, 3)
    img("b.ppm", 8, 2)

    stream = read_media_stream(
        spark, str(src), kind="image", mime="image/x-portable-pixmap",
        path_glob="*.ppm", max_files_per_trigger=1,
    )
    assert stream.df.isStreaming
    out, ckpt = tmp_path / "out", tmp_path / "ck"
    q = write_stream(stream, str(out), str(ckpt), trigger="availableNow")
    q.awaitTermination(120)
    got1 = spark.read.parquet(str(out))
    assert got1.count() == 2

    img("c.ppm", 5, 5)  # a new blob lands; next drain picks up ONLY it
    q2 = write_stream(
        read_media_stream(spark, str(src), kind="image",
                          mime="image/x-portable-pixmap", path_glob="*.ppm"),
        str(out), str(ckpt), trigger="availableNow",
    )
    q2.awaitTermination(120)
    from tidierdb_jl_spark.core import TidyFrame

    landed = TidyFrame(spark.read.parquet(str(out)))
    assert landed.df.count() == 3
    # batch-reader parity + metadata extraction over the landed rows
    meta = extract_image_metadata(landed).collect().sort_values("media_path")
    assert list(meta["width"]) == [4, 8, 5]
    assert list(meta["height"]) == [3, 2, 5]
    batch = read_media_files(spark, str(src), kind="image",
                             mime="image/x-portable-pixmap", path_glob="*.ppm")
    assert batch.df.count() == 3
