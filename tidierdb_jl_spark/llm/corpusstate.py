"""Incremental training-corpus preparation over persistent state.

:func:`~tidierdb_jl_spark.llm.pipeline.prepare_training_corpus` is the
one-shot capstone: clean → dedup → split over a corpus that is all
there.  Real 100 TB corpora are not all there — crawl shards land daily,
and re-running the one-shot pipeline over history+increment re-pays the
whole corpus every day.  ``CorpusPrepState`` is the incremental form:
each ``ingest`` cleans ONE batch, gates it against the persistent
seen-state (exact fingerprints, optionally MinHash text near-dups and
embedding near-dups — the three state stores of
:mod:`~tidierdb_jl_spark.llm.dedupstate`), records the keepers, and
assigns the deterministic hash split.  Per-batch cost is O(batch):

- cleaning is one fused scan of the batch (per-row gates, language ID);
- every dedup gate reads state bounded by the batch's bloom positives /
  band collisions (see the ``DedupState`` family docstrings);
- the split is a pure hash of the id — a document keeps its split
  forever, so appends never reshuffle earlier train/test assignments.

Pipeline config (gates, language, thresholds, split fraction) is frozen
into the state's meta at ``create`` and reapplied verbatim on ``open`` —
two operators ingesting into the same state cannot silently run
different gates, which is what makes the accreted corpus reproducible.

Semantics: first-wins across batches (the earliest ingested copy of a
document survives; later exact/near duplicates are dropped), matching
``DedupState``/``NearDupState``/``EmbeddingDedupState`` replay — with
monotonically increasing ids this equals the one-shot pipeline's
min-id-wins convention.  **All gates run before any state append**, and
only the FINAL kept set is recorded in each state (the
``check``/``record`` split on the near-dup states): a document dropped
by ANY gate is recorded in NO state.  Chain transitivity therefore
differs from the one-shot ``prepare_training_corpus`` by design:
dropped documents are not recorded, so a later document that near-dups
only a DROPPED one is kept (the one-shot pair list would drop it) — the
incremental store never grows with rejected data.  This holds uniformly:
a document that passes the exact gate but is dropped by the near-dup or
embedding gate leaves no fingerprint, no bands, no vectors behind (a
future exact copy of it is then caught by the NEAR gate — identical
text has an identical signature — not the exact one).

Storage: metadata goes through the Hadoop FileSystem API
(:mod:`tidierdb_jl_spark.sources.fsio`) like the member states — a state
path can live on local disk, ``file://``, ``hdfs://`` or ``s3a://``.

Reference parity: beyond the reference (TidierDB.jl has no pipeline or
state surface); the composition mirrors its verb chaining
(src/TidierDB.jl macro pipeline) applied to corpus preparation.
"""

from __future__ import annotations

from ..core import TidyFrame
from ..sources.fsio import join_path
from ..streaming.stream import foreach_batch
from ._state import _PersistentState


class CorpusPrepState(_PersistentState):
    """``create`` → per-shard ``ingest`` → an accreting, deduped,
    split-stable training corpus."""

    _META = "_corpus_prep_state.json"

    def __init__(self, spark, path: str, meta: dict):
        super().__init__(spark, path, meta)
        self._exact = None
        self._near = None
        self._emb = None

    @classmethod
    def create(
        cls,
        spark,
        path: str,
        lang: str | None = "en",
        train_frac: float = 0.9,
        neardup: bool = False,
        embdedup: bool = False,
        neardup_threshold: float = 0.7,
        cosine_threshold: float = 0.95,
        expected_items: int = 1_000_000,
        n_buckets: int = 64,
        **gates,
    ) -> "CorpusPrepState":
        st = cls._create(spark, path, {
            "lang": lang,
            "train_frac": float(train_frac),
            "neardup": bool(neardup),
            "embdedup": bool(embdedup),
            "neardup_threshold": float(neardup_threshold),
            "cosine_threshold": float(cosine_threshold),
            "gates": gates,
            "n_batches": 0,
            "n_ingested": 0,
            "n_kept": 0,
        })
        from .dedupstate import DedupState

        DedupState.create(
            spark, join_path(st.path, "exact"),
            n_buckets=n_buckets, expected_items=expected_items,
        )
        if neardup:
            from .dedupstate import NearDupState

            NearDupState.create(
                spark, join_path(st.path, "near"),
                n_buckets=n_buckets, expected_items=expected_items,
            )
        if embdedup:
            from .dedupstate import EmbeddingDedupState

            EmbeddingDedupState.create(
                spark, join_path(st.path, "emb"),
                n_buckets=n_buckets, expected_items=expected_items,
            )
        return st

    def _states(self):
        from .dedupstate import DedupState, EmbeddingDedupState, NearDupState

        if self._exact is None:
            self._exact = DedupState.open(self.spark, join_path(self.path, "exact"))
        if self._meta["neardup"] and self._near is None:
            self._near = NearDupState.open(self.spark, join_path(self.path, "near"))
        if self._meta["embdedup"] and self._emb is None:
            self._emb = EmbeddingDedupState.open(
                self.spark, join_path(self.path, "emb")
            )
        return self._exact, self._near, self._emb

    def stats(self) -> dict:
        ex, nd, em = self._states()
        out = {
            "n_batches": self._meta["n_batches"],
            "n_ingested": self._meta["n_ingested"],
            "n_kept": self._meta["n_kept"],
            "exact": ex.stats(),
        }
        if nd is not None:
            out["near"] = nd.stats()
        if em is not None:
            out["emb"] = em.stats()
        return out

    def ingest(
        self,
        docs,
        embeddings=None,
        id_col: str = "doc_id",
        text_col: str = "text",
        vec_id: str = "vec_id",
        vec_col: str = "embedding",
    ) -> TidyFrame:
        """Clean one shard, gate it against the state, record keepers.

        Returns the kept documents as (``id_col``, n_words, lang_pred,
        split) — the same shape as ``prepare_training_corpus``.  With
        ``embdedup`` configured, ``embeddings`` must carry vectors for
        (at least) the batch's documents; documents without a vector
        pass the embedding gate (they cannot be vector-dupped).

        Gate-then-record ordering: every gate FILTERS first (the exact
        gate via ``filter_new``, the near-dup/embedding gates via
        ``check``), the final keeper set is fixed, and only then does
        each state ``record``/append exactly that set — so a document
        rejected by a LATER gate never pollutes an EARLIER state (see
        the module docstring's contract).
        """
        from pyspark.sql import functions as F

        from ..operators.skew import semi_reduce
        from .pipeline import clean_corpus, split_by_hash

        meta = self._meta
        if meta["embdedup"] and embeddings is None:
            raise ValueError("state was created with embdedup=True; "
                             "ingest needs the batch's embeddings")
        ex, nd, em = self._states()

        cleaned = clean_corpus(
            docs, id_col=id_col, col=text_col, lang=meta["lang"],
            dedup=False, **meta["gates"]
        )
        n_in = docs.df.count()

        # ---- gates (filter only — no state is touched) ----
        # exact: keep-first within the batch + unseen vs state (pinned:
        # the appends below write into the state paths this plan read)
        fresh = TidyFrame(
            ex.filter_new(cleaned, id_col, text_col).df.localCheckpoint(eager=True)
        )
        kept = fresh
        nd_token = em_token = None
        if nd is not None:
            nd_out, nd_token = nd.check(
                kept, id_col, text_col, threshold=meta["neardup_threshold"]
            )
            kept = nd_out.filter("dup_of IS NULL").select("!dup_of", "!minhash")
        if em is not None:
            emb_batch = semi_reduce(
                embeddings, kept, f"{vec_id} == {id_col}"
            )
            if not emb_batch.df.isEmpty():
                em_out, em_token = em.check(
                    emb_batch, vec_id, vec_col, threshold=meta["cosine_threshold"]
                )
                dup_ids = em_out.filter("dup_of IS NOT NULL").select(vec_id)
                kept = TidyFrame(
                    kept.df.join(
                        F.broadcast(dup_ids.df),
                        kept.df[id_col] == dup_ids.df[vec_id],
                        "left_anti",
                    )
                )

        out = split_by_hash(
            TidyFrame(kept.df), id_col, meta["train_frac"]
        ).select(id_col, "n_words", "lang_pred", "split")
        # pin: the state appends below must not re-filter this result
        pinned = out.df.localCheckpoint(eager=True)
        keep_ids = pinned.select(id_col)

        # ---- record (only the FINAL kept set enters any state) ----
        ex_keep = fresh.df.join(keep_ids, id_col, "left_semi").select(
            "fingerprint"
        )
        # in-package fast path: filter_new proved these fingerprints
        # absent and distinct, and both join sides are pins — safe to
        # skip append()'s re-verification
        ex._append_new(ex_keep, pinned_unique=True)
        if nd_token is not None:
            nd.record(nd_token, keep_ids)
        if em_token is not None:
            em.record(em_token, keep_ids)

        meta["n_batches"] += 1
        meta["n_ingested"] += int(n_in)
        meta["n_kept"] += pinned.count()
        self._write_meta()
        return TidyFrame(pinned)

    def stream_ingest(
        self,
        stream_tf,
        out_path: str,
        checkpoint: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        trigger: str | None = None,
    ):
        """Continuous corpus preparation: every micro-batch of a
        streaming frame (pair with ``sources.warc.read_warc_stream``)
        runs through the gates and the kept, split-assigned rows append
        to ``out_path`` (parquet) — crawl shards land, the training
        corpus accretes.

        Supports the EXACT and NEAR-DUP text gates (the embedding gate
        needs the batch's vectors, which a document stream does not
        carry — run embedding dedup as a periodic batch job over the
        accreted output).

        Delivery semantics: the output is written BEFORE any state
        append (a crash in between replays the batch as still-unseen,
        re-emitting rows — at-least-once — never silently dropping
        them, which the reverse order would).  Among the state appends
        the NEAR record runs before the EXACT append: if a crash lands
        between them, the replayed batch's documents self-match their
        own recorded bands (est-Jaccard 1.0) and are dropped as near-
        dups — not re-emitted, and still gated forever after (an exact
        copy of such a document is caught by the near gate, identical
        text having an identical signature).  The reverse order would
        leave documents fingerprinted but band-less: future NEAR
        duplicates of them would be silently admitted.  Lifetime
        counters may overcount replayed batches — diagnostics, not
        state."""
        if self._meta["embdedup"]:
            raise ValueError(
                "stream_ingest supports the exact and near-dup text gates "
                "only (the embedding gate needs the batch's vectors, which "
                "a document stream does not carry); create the streaming "
                "state with embdedup=False and run embedding dedup in batch"
            )

        from .pipeline import clean_corpus, split_by_hash

        meta = self._meta
        ex, nd, _ = self._states()

        def _ingest_batch(batch_df, batch_id: int) -> None:
            cleaned = clean_corpus(
                TidyFrame(batch_df), id_col=id_col, col=text_col,
                lang=meta["lang"], dedup=False, **meta["gates"]
            )
            fresh = TidyFrame(
                ex.filter_new(cleaned, id_col, text_col)
                .df.localCheckpoint(eager=True)
            )
            kept = fresh
            nd_token = None
            if nd is not None:
                nd_out, nd_token = nd.check(
                    kept, id_col, text_col, threshold=meta["neardup_threshold"]
                )
                kept = nd_out.filter("dup_of IS NULL").select(
                    "!dup_of", "!minhash"
                )
            out = split_by_hash(kept, id_col, meta["train_frac"]).select(
                id_col, "n_words", "lang_pred", "split", "fingerprint"
            )
            pinned = out.df.localCheckpoint(eager=True)
            pinned.write.mode("append").parquet(out_path)
            # near BEFORE exact — see the docstring's crash contract
            if nd_token is not None:
                nd.record(nd_token, pinned.select(id_col))
            ex.append(pinned)
            meta["n_batches"] += 1
            meta["n_kept"] += pinned.count()
            self._write_meta()

        return foreach_batch(
            stream_tf, _ingest_batch, checkpoint, mode="append", trigger=trigger
        )
