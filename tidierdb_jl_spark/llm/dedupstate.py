"""Persistent dedup state for incremental corpus ingestion at 100 TB.

The reference's dedup verbs (TidierDB.jl has only SQL-level ``distinct``)
and this repo's ``exact_dedup_incremental`` both assume the seen-set is a
frame you can afford to re-read per batch.  At corpus scale the seen-set
is billions of fingerprints, and the naive per-batch anti-join pays two
costs that grow with the CORPUS, not the batch:

1. a full scan of the state table every batch, and
2. a shuffle of that state into the anti-join's hash partitioning.

``DedupState`` removes both.  On disk it is a plain parquet table of
fingerprints, directory-partitioned by a stable hash bucket
(``fp_bucket = pmod(xxhash64(fingerprint), n_buckets)``), plus a bloom
sidecar (:mod:`tidierdb_jl_spark.operators.bloom` artifact) in the state's
meta file.  A batch is filtered in three stages, each bounded by the
BATCH (never the corpus):

- **bloom gate** (zero I/O): rows whose fingerprint probes negative are
  *definitively* new — blooms have no false negatives — and skip the
  state entirely.  At a typical few-% duplicate rate this eliminates the
  state read for ~all rows.
- **static partition pruning** (bounded I/O): the surviving rows' bucket
  ids (``<= n_buckets`` distinct values, collected driver-side) become an
  ``IN`` filter on the partition column, so the anti-join scans only the
  state partitions a survivor could possibly live in — proven from the
  status store's files-read metric in ``tests/test_dedupstate.py``.
- **exact anti-join** (correctness): bloom positives are verified against
  the pruned state slice, so false positives never drop a genuinely new
  document.

``append`` is one partitioned parquet append plus an OR-merge of the
bloom sidecar (blooms of identical geometry merge losslessly —
``bloom_merge``).  The bloom geometry is fixed at ``create`` time from
``expected_items``/``fpp``: exceeding the capacity degrades the gate's
false-positive rate (more rows take the verify path) but NEVER
correctness.

Storage: data AND metadata go through the Hadoop FileSystem API
(:mod:`tidierdb_jl_spark.sources.fsio`), so a state path can live on any
filesystem Spark reaches — local, ``file://``, ``hdfs://``, ``s3a://``.
Meta updates are write-tmp-then-swap with a documented per-scheme
atomicity contract and a tmp-fallback reader (see ``fsio``); concurrent
writers are out of scope (same contract as a non-transactional parquet
table).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Observation
from pyspark.sql import functions as F

from ..core import TidyFrame
from ..operators.bloom import bloom_build, bloom_mark, bloom_merge, bloom_size
from ..operators.inlist import isin_chunked
from ..sources.fsio import join_path, swap_dir
from ..streaming.stream import foreach_batch
from ._state import _PersistentState
from .simsearch import _dot, _hyperplanes, _make_sig_udf, _to_double
from .textstats import with_fingerprint
from .vectorindex import _UNIT

__all__ = ["DedupState", "EmbeddingDedupState", "NearDupState"]

_DATA = "data"
_DATA_SCHEMA = "fingerprint STRING, fp_bucket INT"

# above this many distinct probed keys, stop shipping them as a scan-side
# IN filter (the plan literal would grow unbounded) and fall back to
# bucket-level pruning alone.  Bounds the driver collect and the plan
# literal; the scan filter itself ships as ``isin_chunked`` (OR of
# <=500-value INs) so the full list reaches parquet-mr as shallow pushable
# chains — see operators/inlist.py for the stack-overflow ceiling that
# rules out one big IN.
_IN_PUSHDOWN_CAP = 4096


def _bloom_opts(col: str) -> dict:
    """Writer options for a per-column PARQUET bloom filter on ``col``:
    a keyed scan's IN probe then skips whole row groups whose bloom
    rejects all probed keys (min/max stats are useless on uniform hashes
    — measured 100k rows read -> 0 for absent probes).  Adaptive sizing
    keeps the bloom proportional to the actual row-group NDV instead of
    the 1 MB default."""
    return {
        f"parquet.bloom.filter.enabled#{col}": "true",
        "parquet.bloom.filter.adaptive.enabled": "true",
    }


def _pruned_read(probe_df, bucket_expr: str, key_col: str, reader):
    """The state rows a probe can match, read with two levels of pruning.

    ``probe_df`` carries the probed keys in ``key_col`` (named as in the
    state table) and whatever ``bucket_expr`` — the state's partition
    expression — reads; ``reader(buckets)`` returns the state table pruned
    to those partition ids.  The distinct (bucket, key) pairs — a driver
    collect bounded by the CAP, never by data — prune partitions
    (directory level) and, when the keys are few (the normal case: true
    dups + ~FPR of the batch), are pushed as a parquet ``In`` filter, so
    row-group stats and parquet blooms skip nearly every row of the
    surviving partitions too (files are written sorted by key for exactly
    this).  Past the CAP only the buckets prune.  Returns None when the
    probe is empty."""
    rows = (
        probe_df.select(F.expr(bucket_expr).alias("b"), key_col)
        .distinct()
        .limit(_IN_PUSHDOWN_CAP + 1)
        .collect()
    )
    if not rows:
        return None
    if len(rows) <= _IN_PUSHDOWN_CAP:
        return reader(sorted({r[0] for r in rows})).where(
            isin_chunked(key_col, [r[1] for r in rows])
        )
    buckets = [
        r[0]
        for r in probe_df.select(F.expr(bucket_expr).alias("b")).distinct().collect()
    ]
    return reader(buckets)


class _BucketedStore(_PersistentState):
    """A state of parquet tables directory-partitioned by a stable hash
    bucket (``n_buckets`` in the meta) plus a mergeable bloom sidecar
    (``bloom`` in the meta) over the keys a batch is gated on."""

    def _append_partitioned(
        self, df, sub, part_col, sort_cols, bloom_opts, key_expr=None, pin=False
    ) -> int:
        """Append ``df`` to table ``sub`` and return the rows written.
        ``repartition(n_buckets, part_col)`` bounds the write at ONE file
        per bucket per append — without it, every shuffle partition writes
        into every bucket directory and the state degrades into thousands
        of KB-files whose listing cost grows with the number of appends
        (measured 6s -> 29s per batch over 10 appends at sf1).  Files are
        sorted by ``sort_cols`` so row-group stats stay tight for the
        pruned reads.  ``pin`` checkpoints the placed frame before the
        write (its lineage may read the path being written).  With
        ``key_expr`` the written rows' keys are OR-merged into the meta's
        bloom sidecar; the row count rides the write job as an observe
        accumulator.  Counters and the meta write are the caller's."""
        placed = df.repartition(self._meta["n_buckets"], part_col).sortWithinPartitions(
            *sort_cols
        )
        if pin:
            placed = placed.localCheckpoint(eager=True)
        obs = Observation()
        (
            placed.observe(obs, F.count(F.lit(1)).alias("n"))
            .write.partitionBy(part_col)
            .options(**bloom_opts)
            .mode("append")
            .parquet(join_path(self.path, sub))
        )
        n = int(obs.get["n"])
        if n and key_expr is not None:
            bloom = self._meta["bloom"]
            batch_bloom = bloom_build(
                placed, key_expr, num_bits=bloom["m"], num_hashes=bloom["k"]
            )
            self._meta["bloom"] = bloom_merge(bloom, batch_bloom)
        return n


class DedupState(_BucketedStore):
    """A persistent, bloom-gated, partition-pruned fingerprint store.

    Typical batch loop::

        state = DedupState.create(spark, path, expected_items=10_000_000)
        for batch in batches:                      # each a TidyFrame
            fresh = state.ingest(batch, "doc_id")  # unseen rows, pinned
            fresh.df.write.parquet(out, mode="append")
    """

    _META = "_dedup_state.json"

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark,
        path: str,
        n_buckets: int = 64,
        expected_items: int = 1_000_000,
        fpp: float = 0.01,
    ) -> "DedupState":
        """Initialize an empty state directory.  ``n_buckets`` fixes the
        directory-partition fan-out (pick ~state_size / 1 GB at scale);
        ``expected_items`` sizes the bloom for the LIFETIME of the state."""
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        m, k = bloom_size(expected_items, fpp)
        return cls._create(spark, path, {
            "n_buckets": int(n_buckets),
            "bloom": {"bits": "0" * (m // 4), "m": m, "k": k},
            "expected_items": int(expected_items),
            "n_fingerprints": 0,
            "n_appends": 0,
        })

    # -- introspection -----------------------------------------------------

    @property
    def n_buckets(self) -> int:
        return self._meta["n_buckets"]

    def stats(self) -> dict:
        """Lifetime counters plus the bloom's current estimated FPR
        (1 - e^{-kn/m})^k — the fraction of NEW rows that will take the
        verify path rather than the free bloom-negative path."""
        import math

        b = self._meta["bloom"]
        n = self._meta["n_fingerprints"]
        fpr = (1.0 - math.exp(-b["k"] * n / b["m"])) ** b["k"] if n else 0.0
        return {
            "n_fingerprints": n,
            "n_appends": self._meta["n_appends"],
            "n_buckets": self.n_buckets,
            "bloom_bits": b["m"],
            "bloom_est_fpr": fpr,
        }

    # -- the three verbs ---------------------------------------------------

    def _bucket_expr(self) -> str:
        return f"pmod(xxhash64(fingerprint), {self.n_buckets})"

    def _data_path(self) -> str:
        return join_path(self.path, _DATA)

    def _read_data(self, path: str):
        """The state table at ``path``, read with its known schema: no
        schema inference, so no parquet footer is opened at read time."""
        return self.spark.read.schema(_DATA_SCHEMA).parquet(path)

    def _state_df(self, buckets):
        """The state's fingerprint frame (callers check ``n_appends``
        first: an empty state has no data directory) pruned to ``buckets``
        (a list of partition ids — static partition pruning: only those
        directories' files are listed and read)."""
        return (
            self._read_data(self._data_path())
            .where(isin_chunked("fp_bucket", [int(b) for b in buckets]))
            .select("fingerprint")
        )

    def _keep_first(self, tf, id_col: str, text_col: str):
        """Fingerprint + within-batch keep-first (one shuffle over the
        BATCH); output: the batch's columns plus ``fingerprint``."""
        cols = list(tf.columns)
        return (
            with_fingerprint(tf, text_col)
            .mutate(**{"__keep": f"min({id_col})", "_by": "fingerprint"})
            .filter(f"{id_col} = __keep")
            .select(*cols, "fingerprint")
        )

    # sorted per-bucket fingerprint files with a parquet bloom on the key
    # (see _bloom_opts): the verify scan's IN probe skips row groups
    _BLOOM_FILE_OPTS = _bloom_opts("fingerprint")

    def _resolve(self, marked):
        """Split a bloom-marked frame (``__hit`` column) into
        definitively-new rows plus bloom positives verified against the
        state slice :func:`_pruned_read` reads for them."""
        neg = marked.where(~F.col("__hit")).drop("__hit")
        pos = marked.where(F.col("__hit")).drop("__hit")
        pruned = _pruned_read(pos, self._bucket_expr(), "fingerprint", self._state_df)
        if pruned is None:
            return neg
        verified = pos.join(pruned, "fingerprint", "left_anti")
        return neg.unionByName(verified)

    def filter_new(self, tf, id_col: str, text_col: str = "text") -> TidyFrame:
        """Rows of ``tf`` not yet in the state (plus within-batch
        first-keep by min ``id_col``).  Pure query — does NOT mutate the
        state; the frame recomputes consistently until ``append`` runs.
        Output columns: the batch's columns plus ``fingerprint``."""
        batch = self._keep_first(tf, id_col, text_col)
        if not self._meta["n_appends"]:
            return batch
        marked = bloom_mark(batch, "fingerprint", self._meta["bloom"], "__hit")
        return TidyFrame(self._resolve(marked.df))

    def append(self, tf_or_df) -> int:
        """Record fingerprints as seen.  Accepts any frame with a
        ``fingerprint`` column (``filter_new`` output) and returns the
        number of NEW distinct fingerprints added.  One partitioned
        parquet append + one bloom build over the batch (both O(batch));
        the meta rewrite is atomic."""
        df = tf_or_df.df if hasattr(tf_or_df, "df") else tf_or_df
        if "fingerprint" not in df.columns:
            raise ValueError(
                "append needs a 'fingerprint' column (filter_new output, "
                "or with_fingerprint(...) it yourself)"
            )
        fps = df.select("fingerprint").where(F.col("fingerprint").isNotNull())
        if self._meta["n_appends"]:
            # idempotence across batches: never store a fingerprint twice
            # (within-batch distinct is in _append_new's aggregate)
            marked = bloom_mark(
                TidyFrame(fps), "fingerprint", self._meta["bloom"], "__hit"
            )
            fresh = self._resolve(marked.df)
        else:
            fresh = fps
        return self._append_new(fresh)

    def _append_new(self, fresh, pinned_unique: bool = False) -> int:
        """Write fingerprints ALREADY KNOWN to be absent from the state
        (``filter_new``/``_resolve`` output), distinct-per-batch via the
        aggregate, as one partitioned append (see
        :meth:`_append_partitioned`).  Run ``compact()`` when the
        per-bucket file count (one per append) gets large.

        The placed frame is pinned BEFORE the write: fresh's lineage may
        read the state path (the _resolve anti-join), and both the write
        and the bloom build run after the path is written — an
        un-truncated recompute would anti-join the new fingerprints
        against THEMSELVES, building the bloom over an empty set and
        turning every one of these fingerprints into a future bloom
        false-negative (= admitted duplicate).  The checkpoint is a narrow
        (fingerprint, bucket) frame, O(batch).

        ``pinned_unique=True`` (the ``ingest`` fast path) promises the
        input is a CHECKPOINTED frame of already-distinct, already-unseen
        fingerprints: the dedup aggregate and the pre-write checkpoint
        are skipped — two Spark jobs total (write + bloom build)."""
        fresh = fresh.where(F.col("fingerprint").isNotNull())
        bucket = F.expr(self._bucket_expr()).alias("fp_bucket")
        if pinned_unique:
            fresh = fresh.select("fingerprint", bucket)
        else:
            fresh = fresh.groupBy("fingerprint").agg(bucket)
        n_new = self._append_partitioned(
            fresh, _DATA, "fp_bucket", ("fp_bucket", "fingerprint"),
            self._BLOOM_FILE_OPTS, "fingerprint", pin=not pinned_unique,
        )
        self._meta["n_fingerprints"] += n_new
        self._meta["n_appends"] += 1
        self._write_meta()
        if self._meta["n_fingerprints"] > self._meta["expected_items"]:
            import warnings

            warnings.warn(
                f"DedupState at {self.path} holds "
                f"{self._meta['n_fingerprints']} fingerprints, over its "
                f"bloom capacity {self._meta['expected_items']} — the gate's "
                "FPR degrades (more verify-path traffic), correctness does "
                "not.  Re-create with a larger expected_items to restore it.",
                stacklevel=2,
            )
        return n_new

    def merge_from(self, other: "DedupState") -> int:
        """Fold another state's fingerprints into this one — distributed
        crawl ingestion's fan-in (per-region/per-day states built
        independently merge into the global seen-set).  Returns the
        number of fingerprints that were new to this state.

        Goes through the re-verifying public :meth:`append`, so overlaps
        between the two states dedup exactly, this state's reads stay
        bloom-gated and partition-pruned, and NOTHING requires the two
        states to share ``n_buckets`` or bloom geometry (buckets and the
        bloom contribution are recomputed for the incoming rows).  Cost
        is O(|other|) regardless of |self|.  Exact-fingerprint states
        merge losslessly because the seen-set is a plain set union; the
        near-dup states have no such merge (two independently-built
        keeper sets can near-duplicate EACH OTHER — fold one state's
        corpus through the other's ``ingest`` instead)."""
        if not other._meta["n_appends"]:
            # a freshly created state has no data directory yet — merging
            # zero fingerprints is a no-op, not a read error
            return 0
        df = self._read_data(other._data_path()).select("fingerprint")
        return self.append(df)

    def ingest(self, tf, id_col: str, text_col: str = "text") -> TidyFrame:
        """``filter_new`` + ``append`` in one call.  The returned frame is
        PINNED before the append so it does not re-filter against its own
        fingerprints on later actions.  ``persist()`` is NOT enough: the
        append writes into the state path, and Spark invalidates (and
        lazily recomputes) every cached plan that reads a written path
        (CacheManager.recacheByPath) — the recompute would anti-join the
        batch against itself and return nothing.  ``localCheckpoint``
        truncates the lineage so the returned frame no longer references
        the path at all.  The checkpoint is batch-sized (the surviving
        rows), never corpus-sized; for full laziness call ``filter_new``
        and ``append`` yourself around your own write.

        Two checkpoints structure the work so the batch pipeline
        (fingerprint + keep-first window + bloom probe) runs exactly ONCE:
        the bloom-marked batch is pinned first, then the bucket collect,
        the verify anti-join, the state write and the bloom build all read
        from pins instead of re-running it (the lazy composition ran it
        4x — measured at sf1).  The append skips re-verification
        (``_append_new``): filter_new's output is already proven absent."""
        batch = self._keep_first(tf, id_col, text_col)
        if not self._meta["n_appends"]:
            pinned = batch.df.localCheckpoint(eager=True)
        else:
            marked = bloom_mark(
                batch, "fingerprint", self._meta["bloom"], "__hit"
            ).df.localCheckpoint(eager=True)
            pinned = self._resolve(marked).localCheckpoint(eager=True)
        self._append_new(pinned.select("fingerprint"), pinned_unique=True)
        return TidyFrame(pinned)

    def ingest_cdf(self, table_path: str, id_col: str,
                   text_col: str = "text") -> TidyFrame:
        """Incremental ingestion from a Delta table's CHANGE DATA FEED
        (r12 — pairs with :func:`~..sources.delta_cdf.read_delta_cdf`):
        process only the rows INSERTED since this state last looked —
        ``insert`` and ``update_postimage`` changes of the unconsumed
        version range — instead of re-reading the table's full snapshot
        per batch, which at 100 TB is the difference between O(changes)
        and O(corpus) per ingestion cycle.  The consumed high-water
        version is tracked PER TABLE in the state meta (crash-safe:
        the watermark advances only after the fingerprints are
        appended; a replay re-ingests a range whose fingerprints are
        already recorded, converging exactly like ``stream_ingest``'s
        replay path).  ``delete`` / ``update_preimage`` changes are
        ignored — a dedup seen-set is monotone by design (a re-crawled
        document that was deleted upstream is still a duplicate).
        Returns the genuinely-new rows, exactly like ``ingest``."""
        from ..sources.delta import _snapshot
        from ..sources.delta_cdf import read_delta_cdf

        root = str(table_path).rstrip("/")
        marks: dict = self._meta.setdefault("cdf_watermarks", {})
        last = int(marks.get(root, -1))
        _live, _tmeta, end_v = _snapshot(self.spark, root, None)
        if end_v <= last:
            # nothing committed since the watermark: empty frame with
            # the table's column shape (no scan at all)
            from ..sources.delta import read_delta

            empty = read_delta(self.spark, root).df.limit(0)
            return TidyFrame(empty.localCheckpoint(eager=True))
        feed = read_delta_cdf(self.spark, root,
                              starting_version=last + 1,
                              ending_version=end_v)
        inserted = (feed.df
                    .where(F.col("_change_type")
                           .isin("insert", "update_postimage"))
                    .drop("_change_type", "_commit_version",
                          "_commit_timestamp"))
        out = self.ingest(TidyFrame(inserted), id_col, text_col)
        marks[root] = int(end_v)
        self._write_meta()
        return out

    def stream_ingest(
        self,
        stream_tf,
        id_col: str,
        out_path: str,
        checkpoint: str,
        text_col: str = "text",
        trigger: str | None = None,
    ):
        """Continuous ingestion: run every micro-batch of a streaming
        frame through the state and append only the UNSEEN rows to
        ``out_path`` (parquet) — the production shape for a crawl that
        never stops (pair with ``sources.warc.read_warc_stream``).

        Delivery semantics: the STATE converges exactly (a replayed
        micro-batch's fingerprints are already recorded, so nothing is
        double-counted — the replay path goes through the re-verifying
        public ``append``, not the ingest fast path); the OUTPUT is
        at-least-once, like any non-transactional foreachBatch file sink —
        a crash between the output write and the state append can emit a
        batch's rows twice.  Every output row carries ``fingerprint``, so
        downstream exact re-dedup is one groupBy away.  Returns the
        StreamingQuery.  ``trigger``: processing-time interval (e.g.
        "10 seconds") or "availableNow" to drain what exists and stop."""

        def _ingest_batch(batch_df, batch_id: int) -> None:
            fresh = self.filter_new(TidyFrame(batch_df), id_col, text_col)
            pinned = fresh.df.localCheckpoint(eager=True)
            pinned.write.mode("append").parquet(out_path)
            self.append(pinned)

        return foreach_batch(
            stream_tf, _ingest_batch, checkpoint, mode="append", trigger=trigger
        )

    def compact(self, target_mb: int = 128) -> None:
        """Rewrite the accreted per-batch files into right-sized ones —
        per-bucket, preserving the partition layout (delegates sizing
        policy to :func:`tidierdb_jl_spark.sources.writers.compact_files`'s
        contract but must keep ``fp_bucket=`` directories, so it rewrites
        through a partitioned write)."""
        if not self._meta["n_appends"]:
            return
        from ..sources.writers import dataset_size_bytes

        data = self._data_path()
        tmp = data + ".compact.tmp"
        df = self._read_data(data)
        total = dataset_size_bytes(self.spark, data)
        per_bucket = max(
            1, int(total / max(1, self.n_buckets) / (target_mb * 1024 * 1024)) + 1
        )
        # salt-within-bucket partitioning: each bucket has at most
        # ``per_bucket`` distinct (bucket, salt) shuffle targets, so the
        # partitioned write emits at most ``per_bucket`` files per bucket
        (
            df.withColumn("__s", F.pmod(F.xxhash64("fingerprint"), F.lit(per_bucket)))
            .repartition(self.n_buckets * per_bucket, "fp_bucket", "__s")
            .drop("__s")
            .sortWithinPartitions("fp_bucket", "fingerprint")
            .write.partitionBy("fp_bucket")
            .options(**self._BLOOM_FILE_OPTS)
            .mode("overwrite")
            .parquet(tmp)
        )
        swap_dir(self.spark, data, tmp)




class _BandedLSHState(_BucketedStore):
    """The banded-LSH near-dup state: one ``check``/``record`` for the
    MinHash (:class:`NearDupState`) and random-hyperplane
    (:class:`EmbeddingDedupState`) members.

    On disk: a ``bands`` table of (id, band, hash) LSH postings
    partitioned by ``bb``, a hash of the band key, with a parquet bloom on
    the hash; a payload table (id, payload) partitioned by a hash of the
    id with a parquet bloom on the id; and a mergeable bloom sidecar over
    the band keys.  Per batch, the only state I/O is proportional to the
    batch's BAND COLLISIONS, not the corpus: bloom-negative band keys are
    definitively collision-free and never touch disk; positives read only
    their partitions and row groups (:func:`_pruned_read`), and so do the
    payloads fetched to verify each candidate.

    A member supplies its band frame (``check``, and ``_kept_rows`` for
    the keepers), its verify SQL and its on-disk names as class
    attributes."""

    _ID: str  # id column of both tables
    _HASH: str  # band-hash column of ``bands``
    _PAY_DIR: str  # payload table (subdirectory)
    _PAY_COL: str  # payload column, also its name in the batch frame
    _PAY_PART: str  # payload table's partition column
    _COUNTER: str  # meta counter of recorded ids
    _VERIFY: str  # pair score, SQL over the payloads {l} and {r}

    def _band_key(self) -> str:
        return f"concat_ws(':', band, {self._HASH})"

    def _band_bucket(self) -> str:
        return f"pmod(xxhash64(band, {self._HASH}), {self._meta['n_buckets']})"

    def _pay_bucket(self) -> str:
        return f"pmod(xxhash64({self._ID}), {self._meta['n_buckets']})"

    def _read_pruned(self, sub: str, part_col: str, buckets):
        return self.spark.read.parquet(join_path(self.path, sub)).where(
            isin_chunked(part_col, [int(b) for b in buckets])
        )

    def _check(self, base, pay, nb, id_col, threshold, max_bucket):
        """Pairs of the batch with the state and with itself, verified.
        ``pay`` is the pinned (__id, payload) frame, ``nb`` the pinned
        (__id, band, hash) band rows, ``base`` the frame the output
        extends with ``dup_of`` (NULL → keep; else the smallest paired id,
        history or batch).  ``max_bucket`` (None: uncapped) caps each band
        key's partners — stored ones AT VERIFY TIME (a row_number window
        over the pruned slice, bounding the candidate join; the hot key's
        rows are still read) and within the batch by dropping the key."""
        H, ID, P = self._HASH, self._ID, self._PAY_COL
        score = F.expr(self._VERIFY.format(l="__pl", r="__pr")).alias("__s")
        left = pay.select(F.col("__id").alias("__nid"), F.col(P).alias("__pl"))

        def verified(cand, right):
            return (
                cand.join(left, "__nid")
                .join(right, "__pid")
                .select("__nid", "__pid", score)
                .filter(F.col("__s") >= threshold)
            )

        vs_seen = None
        if self._meta["n_appends"]:
            pos = (
                bloom_mark(TidyFrame(nb), self._band_key(), self._meta["bloom"], "__hit")
                .df.where(F.col("__hit"))
                .drop("__hit")
            )
            bands_df = _pruned_read(
                pos, self._band_bucket(), H, partial(self._read_pruned, "bands", "bb")
            )
            if bands_df is not None:
                if max_bucket is not None:
                    bands_df = bands_df.withColumn(
                        "__rn",
                        F.expr(
                            f"row_number() OVER (PARTITION BY band, {H} ORDER BY {ID})"
                        ),
                    ).where(F.col("__rn") <= max_bucket).drop("__rn")
                cand = (
                    pos.alias("l")
                    .join(
                        bands_df.alias("r"),
                        (F.col("l.band") == F.col("r.band"))
                        & (F.col(f"l.{H}") == F.col(f"r.{H}")),
                    )
                    .select(
                        F.col("l.__id").alias("__nid"), F.col(f"r.{ID}").alias("__pid")
                    )
                    .dropDuplicates(["__nid", "__pid"])
                    .localCheckpoint(eager=True)
                )
                pays = _pruned_read(
                    cand.select(F.col("__pid").alias(ID)),
                    self._pay_bucket(),
                    ID,
                    partial(self._read_pruned, self._PAY_DIR, self._PAY_PART),
                )
                if pays is not None:
                    vs_seen = verified(
                        cand,
                        pays.select(F.col(ID).alias("__pid"), F.col(P).alias("__pr")),
                    )

        nbc = nb
        if max_bucket is not None:
            hot = nb.groupBy("band", H).count().filter(F.col("count") > max_bucket)
            nbc = nb.join(F.broadcast(hot.select("band", H)), ["band", H], "left_anti")
        within = verified(
            nbc.alias("l")
            .join(
                nbc.alias("r"),
                (F.col("l.band") == F.col("r.band"))
                & (F.col(f"l.{H}") == F.col(f"r.{H}"))
                & (F.col("r.__id") < F.col("l.__id")),
            )
            .select(F.col("l.__id").alias("__nid"), F.col("r.__id").alias("__pid"))
            .dropDuplicates(["__nid", "__pid"]),
            pay.select(F.col("__id").alias("__pid"), F.col(P).alias("__pr")),
        )
        pairs = within if vs_seen is None else vs_seen.unionAll(within)
        best = pairs.groupBy("__nid").agg(F.min("__pid").alias("dup_of"))
        out = (
            base.join(best, F.col(id_col) == F.col("__nid"), "left")
            .drop("__nid")
            .localCheckpoint(eager=True)
        )
        return TidyFrame(out), {"out": out, "id_col": id_col, "pay": pay, "nb": nb}

    def record(self, token, keep_ids=None) -> int:
        """Append a :meth:`check`'s keepers — band postings + payloads +
        sidecar bloom, all from the check's pins (nothing re-reads the
        state paths after the writes).  ``keep_ids`` (optional
        single-column frame) restricts the recorded keepers to a
        downstream gate's survivors: ids it excludes are treated as
        dropped and never enter the state.  Returns the number of ids
        recorded."""
        H, ID, P = self._HASH, self._ID, self._PAY_COL
        id_col = token["id_col"]
        keep = token["out"].where(F.col("dup_of").isNull())
        if keep_ids is not None:
            kdf = keep_ids.df if hasattr(keep_ids, "df") else keep_ids
            # no broadcast hint: keeper sets are batch-sized (can be
            # large); AQE picks broadcast when the stats allow it
            keep = keep.join(
                kdf.select(F.col(kdf.columns[0]).alias(id_col)).distinct(),
                id_col,
                "left_semi",
            )
        kp, kb = self._kept_rows(keep, token)
        self._append_partitioned(
            kb.select(
                F.col("__id").alias(ID), "band", H,
                F.expr(self._band_bucket()).alias("bb"),
            ),
            "bands", "bb", ("bb", H), _bloom_opts(H), self._band_key(), pin=True,
        )
        n_kept = self._append_partitioned(
            kp.select(F.col("__id").alias(ID), P)
            .withColumn(self._PAY_PART, F.expr(self._pay_bucket())),
            self._PAY_DIR, self._PAY_PART, (self._PAY_PART, ID), _bloom_opts(ID),
        )
        self._meta[self._COUNTER] += n_kept
        self._meta["n_appends"] += 1
        self._write_meta()
        return n_kept


class NearDupState(_BandedLSHState):
    """Persistent MinHash-LSH state — the near-dup twin of
    :class:`DedupState`, same pruned-read design (see
    :class:`_BandedLSHState`): ``bands`` holds (doc_id, band, bh)
    partitioned by ``bb``, ``sigs`` holds (doc_id, minhash) partitioned by
    ``sb``.  History TEXT is never stored (~0.5 KB/doc at num_perm=64).
    Candidate verification is est-Jaccard (signature-component
    agreement).

    Semantics match :func:`tidierdb_jl_spark.llm.dedup.
    minhash_dedup_incremental` exactly (differentially tested): ``ingest``
    returns the batch plus ``minhash`` and ``dup_of`` (NULL → keep; else
    the smallest paired id, history or batch), and only keepers' bands /
    signatures enter the state — with monotonically growing ids the
    running result equals a full-corpus :func:`minhash_dedup`.

    Skew note: a boilerplate band key accumulates doc_ids across appends;
    ``max_bucket`` caps each key's stored partners AT VERIFY TIME,
    bounding the candidate join; the hot key's rows are still read, so
    genuinely pathological keys should be cleaned upstream (the
    batch-level census cap of ``minhash_dedup_pairs``).
    """

    _META = "_neardup_state.json"
    _ID, _HASH = "doc_id", "bh"
    _PAY_DIR, _PAY_COL, _PAY_PART = "sigs", "minhash", "sb"
    _COUNTER = "n_docs"
    _VERIFY = (
        "CAST(size(filter(zip_with({l}, {r}, (x, y) -> x = y), v -> v))"
        " AS DOUBLE) / size({l})"
    )

    @classmethod
    def create(
        cls,
        spark,
        path: str,
        num_perm: int = 64,
        bands: int = 16,
        shingle: int = 3,
        n_buckets: int = 64,
        expected_items: int = 1_000_000,
        fpp: float = 0.01,
    ) -> "NearDupState":
        """``expected_items`` sizes the band-key bloom for the LIFETIME
        number of stored docs (keys ≈ docs × bands; sized internally)."""
        if num_perm % bands:
            raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
        m, k = bloom_size(expected_items * bands, fpp)
        return cls._create(spark, path, {
            "num_perm": int(num_perm),
            "bands": int(bands),
            "shingle": int(shingle),
            "n_buckets": int(n_buckets),
            "bloom": {"bits": "0" * (m // 4), "m": m, "k": k},
            "expected_items": int(expected_items),
            "n_docs": 0,
            "n_appends": 0,
        })

    def stats(self) -> dict:
        return {
            "n_docs": self._meta["n_docs"],
            "n_appends": self._meta["n_appends"],
            "n_buckets": self._meta["n_buckets"],
            "num_perm": self._meta["num_perm"],
            "bands": self._meta["bands"],
            "bloom_bits": self._meta["bloom"]["m"],
        }

    def ingest(
        self,
        tf,
        id_col: str,
        text_col: str = "text",
        threshold: float = 0.7,
        max_bucket: int = 200,
    ) -> TidyFrame:
        """Dedup the batch against the state AND itself; record keepers.
        Returns the batch + ``minhash`` + ``dup_of`` (pinned — see
        :meth:`DedupState.ingest` for why ``localCheckpoint``).
        ``check`` + ``record`` in one call; compose them yourself when a
        downstream gate decides the final keeper set (the
        ``CorpusPrepState`` pattern)."""
        out, token = self.check(
            tf, id_col, text_col=text_col, threshold=threshold,
            max_bucket=max_bucket,
        )
        self.record(token)
        return out

    def check(
        self,
        tf,
        id_col: str,
        text_col: str = "text",
        threshold: float = 0.7,
        max_bucket: int = 200,
    ):
        """Gate WITHOUT recording: returns ``(out, token)`` where ``out``
        is the pinned batch + ``minhash`` + ``dup_of`` and ``token`` is
        an opaque handle for :meth:`record`.  The state is untouched —
        dropping the token discards the check, so callers can run further
        gates (embedding dedup, quality filters) and record only the
        final survivors."""
        from .dedup import minhash_signature

        meta = self._meta
        sig = minhash_signature(
            tf, id_col, text_col, meta["num_perm"], meta["shingle"]
        ).df.localCheckpoint(eager=True)
        pay = sig.select(F.col(id_col).alias("__id"), "minhash")
        nb = self._bands(pay).localCheckpoint(eager=True)
        return self._check(sig, pay, nb, id_col, threshold, max_bucket)

    def _bands(self, pay):
        from .dedup import _band_explode

        meta = self._meta
        return _band_explode(pay, meta["bands"], meta["num_perm"] // meta["bands"])

    def _kept_rows(self, keep, token):
        # the output carries the signatures: re-banding the keepers is
        # cheaper than joining them back to the check's pins
        kp = keep.select(F.col(token["id_col"]).alias("__id"), "minhash")
        return kp, self._bands(kp)


class EmbeddingDedupState(_BandedLSHState):
    """Persistent random-hyperplane-LSH state for EMBEDDING near-dups —
    the third member of the state family (exact :class:`DedupState`,
    text :class:`NearDupState`, vectors here), same pruned-read design
    (see :class:`_BandedLSHState`): ``bands`` holds (vec_id, band, sig)
    partitioned by ``bb``, ``vecs`` holds UNIT vectors (vec_id, unit)
    partitioned by ``vb``.  The hyperplanes are deterministic seeded
    literals (:func:`~tidierdb_jl_spark.llm.simsearch._hyperplanes`), so
    signatures computed in different sessions collide correctly; the
    vector dimension is captured at the first ingest and enforced after.

    Every candidate is EXACT-cosine verified against fetched unit vectors
    — no false positives.  Semantics match
    :func:`~tidierdb_jl_spark.llm.dedup.embedding_dedup_incremental`
    (differentially tested): ``ingest`` returns the batch + ``dup_of``,
    and only keepers enter the state."""

    _META = "_embdedup_state.json"
    _ID, _HASH = "vec_id", "sig"
    _PAY_DIR, _PAY_COL, _PAY_PART = "vecs", "unit", "vb"
    _COUNTER = "n_vecs"
    _VERIFY = _dot("{l}", "{r}")

    @classmethod
    def create(
        cls,
        spark,
        path: str,
        nbits: int = 4,
        bands: int = 16,
        n_buckets: int = 64,
        expected_items: int = 1_000_000,
        fpp: float = 0.01,
    ) -> "EmbeddingDedupState":
        m, k = bloom_size(expected_items * bands, fpp)
        return cls._create(spark, path, {
            "nbits": int(nbits),
            "bands": int(bands),
            "dim": None,  # captured at first ingest
            "n_buckets": int(n_buckets),
            "bloom": {"bits": "0" * (m // 4), "m": m, "k": k},
            "expected_items": int(expected_items),
            "n_vecs": 0,
            "n_appends": 0,
        })

    def stats(self) -> dict:
        return {
            "n_vecs": self._meta["n_vecs"],
            "n_appends": self._meta["n_appends"],
            "n_buckets": self._meta["n_buckets"],
            "dim": self._meta["dim"],
            "nbits": self._meta["nbits"],
            "bands": self._meta["bands"],
            "bloom_bits": self._meta["bloom"]["m"],
        }

    def ingest(
        self,
        tf,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.95,
    ) -> TidyFrame:
        """Dedup the batch against the state AND itself; record keepers.
        Returns the batch + ``dup_of`` (pinned; see
        :meth:`DedupState.ingest`).  ``check`` + ``record`` in one call;
        compose them yourself when a downstream gate decides the final
        keeper set."""
        out, token = self.check(tf, id_col, vec_col, threshold)
        self.record(token)
        return out

    def check(
        self,
        tf,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.95,
    ):
        """Gate WITHOUT recording: ``(out, token)``, state untouched —
        same contract as :meth:`NearDupState.check`."""
        meta = self._meta
        dim = len(tf.df.select(vec_col).first()[0])
        if meta["dim"] is None:
            meta["dim"] = dim
        elif meta["dim"] != dim:
            raise ValueError(
                f"state at {self.path} holds dim={meta['dim']} vectors; "
                f"batch has dim={dim}"
            )
        sig_udf = _make_sig_udf(
            _hyperplanes(dim, meta["nbits"] * meta["bands"]),
            meta["nbits"],
            meta["bands"],
        )
        pay = (
            tf.df.select(
                F.col(id_col).alias("__id"), F.expr(_to_double(vec_col)).alias("__v")
            )
            .select("__id", F.expr(_UNIT).alias("unit"))
            .localCheckpoint(eager=True)
        )
        nb = (
            pay.select("__id", sig_udf(F.col("unit")).alias("__sigs"))
            .select("__id", F.posexplode_outer("__sigs").alias("band", "sig"))
            .localCheckpoint(eager=True)
        )
        return self._check(tf.df, pay, nb, id_col, threshold, None)

    def _kept_rows(self, keep, token):
        ids = keep.select(F.col(token["id_col"]).alias("__k"))
        pay, nb = token["pay"], token["nb"]
        return (
            pay.join(ids, pay["__id"] == ids["__k"], "left_semi"),
            nb.join(ids, nb["__id"] == ids["__k"], "left_semi"),
        )
