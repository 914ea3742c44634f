"""Persistent, mergeable corpus statistics — the daily report without
the daily rescan.

At 100 TB the question "what is in the corpus right now?" (token count,
language/source mix, length distribution, vocabulary heavy hitters) is
asked constantly and answered, naively, by re-scanning the corpus.
``CorpusStatsState`` answers it from O(config)-sized state updated once
per ingested batch:

- **Exact additive components** (commutative sums, so batch order never
  matters): doc/token/char totals, per-``lang`` and per-``source`` doc
  counts (key cardinality capped loudly at ``max_keys``), and a
  fixed-geometry histogram of document token lengths (``hist_width`` x
  ``hist_buckets``, last bucket open).  These live in the meta file and
  are bit-exact — the driver row replays them against a declarative SQL
  oracle.
- **Mergeable length-quantile sketch** (r10): an HdrHistogram-style
  quantized counting sketch over per-document token counts — each count
  keeps its top ``quantile_bits + 1`` significant bits (``Q(v) =
  (v >> s) << s`` with ``s = max(0, bit_length(v) - 1 - quantile_bits)``,
  pure integer ops, deterministic across engines).  Because ``Q`` is
  monotone, the sketch's rank-``r`` value is EXACTLY ``Q`` of the true
  rank-``r`` order statistic, so every quantile estimate carries the
  one-sided guarantee ``0 <= true - est <= true * 2**-quantile_bits``
  (< 0.8% at the default 7 bits) — the same shape as the MG undercount
  bound: never over, boundedly under.  Bucket counts are plain sums, so
  shard-built sketches merge exactly (``merge_from``), and the whole
  sketch is O(bit_length x 2^bits) integers in the meta file.  The d49
  driver row hash-compares the estimates against DuckDB recomputing
  ``Q(quantile_disc(...))`` declaratively — deterministic, not banded,
  because the quantization IS the sketch.
- **Bounded token sketch**: a Misra-Gries summary of the corpus token
  stream (capacity ``ceil(2/threshold_frac)``), built per batch with the
  shuffle-free ``operators.heavyhitters`` partition pass and merged into
  the stored summary with the Agarwal et al. (PODS'12) merge rule —
  combine counts, then decrement everything by the (capacity+1)-largest
  count so the summary stays <= capacity.  The merged undercount over
  ANY sequence of merges stays <= N/(capacity+1) (N = lifetime token
  count), so :meth:`heavy_hitters` can report each token's count as the
  interval ``[mg, mg + N/(c+1)]`` — tokens whose LOWER bound clears the
  threshold are guaranteed real, tokens whose upper bound misses it are
  guaranteed absent, and only the band between is undecided.

Batch cost is O(batch) — one scan for the doc-level aggregates, one
token pass at scan parallelism with O(capacity) memory, zero shuffles of
the token stream — plus an O(capacity) driver-side sketch merge and one
<= capacity-row parquet write.  Nothing grows with the corpus.

Storage follows the family conventions (:mod:`..sources.fsio`): any
Hadoop-reachable scheme, the meta write is the single commit point
(sketch parquet lands in a versioned ``sketch_e<n>`` dir FIRST, so a
crash leaves an orphan dir and an unchanged state; a retry overwrites
it), single writer.

Streaming: :meth:`stream_ingest` is EXACTLY-ONCE, stronger than
``CorpusPrepState``'s at-least-once output path — the committed stream
batch id rides in the same meta write as the counters it covers, so a
replayed micro-batch is recognized (``batch_id <= last_stream_batch``)
and skipped instead of double-counted.

Reference parity: beyond the reference (TidierDB.jl's closest surface is
``@summarize`` group-bys re-run per question, src/TidierDB.jl); the
sketch is Misra & Gries 1982 + the PODS'12 mergeability bound, same
citations as ``operators/heavyhitters.py``.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import functions as F

from ..core import TidyFrame
from ..operators.heavyhitters import _mg_partition
from ..sources.fsio import join_path
from ..streaming.stream import foreach_batch
from ._state import _PersistentState
from .textstats import tokenize_expr

__all__ = ["CorpusStatsState"]

# the default report() quantiles (d49 driver row legs)
_REPORT_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


def _quantize_sql(col: str, bits: int) -> str:
    """``Q(v)``: keep the top ``bits + 1`` significant bits of a
    non-negative integer — the HdrHistogram quantization.  Pure integer
    ops (``bit_length`` via ``length(bin(v))``), so Spark and DuckDB
    compute it IDENTICALLY; monotone, so order statistics commute with
    it; one-sided: ``0 <= v - Q(v) <= v * 2**-bits``."""
    s = f"greatest(length(bin({col})) - 1 - {bits}, 0)"
    return (
        f"CASE WHEN {col} <= 0 THEN CAST(0 AS BIGINT) "
        f"ELSE shiftleft(shiftright(CAST({col} AS BIGINT), {s}), {s}) END"
    )

# driver-side sketch merges are bounded by capacity, never by data; a
# capacity this size is ~100 MB of driver dict — refuse louder asks
_MAX_CAPACITY = 2_000_000


class CorpusStatsState(_PersistentState):
    """Persistent corpus statistics: exact additive counters + a bounded
    mergeable token sketch.

    Typical loop::

        st = CorpusStatsState.create(spark, path, threshold_frac=1e-3)
        for batch in batches:
            st.ingest(batch)          # O(batch); updates state on disk
        st.report()                   # exact totals/mix/histogram rows
        st.heavy_hitters()            # token count intervals from the MG
    """

    _META = "_corpus_stats_state.json"

    # -- lifecycle -----------------------------------------------------

    @classmethod
    def create(
        cls,
        spark,
        path: str,
        threshold_frac: float = 0.001,
        hist_width: int = 10,
        hist_buckets: int = 12,
        max_keys: int = 10_000,
        quantile_bits: int = 7,
    ) -> "CorpusStatsState":
        if not (0.0 < threshold_frac <= 1.0):
            raise ValueError(
                f"threshold_frac must be in (0, 1], got {threshold_frac}"
            )
        capacity = math.ceil(2.0 / threshold_frac)
        if capacity > _MAX_CAPACITY:
            raise ValueError(
                f"threshold_frac={threshold_frac} needs {capacity} sketch "
                f"counters (> {_MAX_CAPACITY}); the sketch merge is "
                "driver-side O(capacity) — raise the threshold"
            )
        if hist_width < 1 or hist_buckets < 2:
            raise ValueError("hist_width >= 1 and hist_buckets >= 2 required")
        if not (1 <= quantile_bits <= 16):
            raise ValueError("quantile_bits must be in [1, 16]")
        return cls._create(spark, path, {
            "threshold_frac": float(threshold_frac),
            "capacity": int(capacity),
            "hist_width": int(hist_width),
            "hist_buckets": int(hist_buckets),
            "max_keys": int(max_keys),
            "n_batches": 0,
            "n_docs": 0,
            "n_tokens": 0,
            "n_chars": 0,
            "lang": {},
            "source": {},
            "hist": [0] * int(hist_buckets),
            "q_bits": int(quantile_bits),
            "q_counts": {},  # quantized token-count -> doc count
            "sketch_epoch": 0,  # 0 = no sketch written yet
            "last_stream_batch": -1,
        })

    def _sketch_path(self, epoch: int | None = None) -> str:
        e = self._meta["sketch_epoch"] if epoch is None else epoch
        return join_path(self.path, f"sketch_e{e}")

    # -- introspection ---------------------------------------------------

    def stats(self) -> dict:
        m = self._meta
        c = m["capacity"]
        return {
            "n_batches": m["n_batches"],
            "n_docs": m["n_docs"],
            "n_tokens": m["n_tokens"],
            "n_chars": m["n_chars"],
            "n_langs": len(m["lang"]),
            "n_sources": len(m["source"]),
            "capacity": c,
            # the PODS'12 merged-summary bound: any token's stored count
            # undercounts its true count by at most this
            "mg_undercount_bound": m["n_tokens"] // (c + 1),
        }

    # -- ingest ----------------------------------------------------------

    def ingest(
        self,
        tf,
        text_col: str = "text",
        lang_col: str | None = "lang",
        source_col: str | None = "source",
        _stream_batch: int | None = None,
    ) -> dict:
        """Fold one batch into the state; returns :meth:`stats`.

        One doc-level aggregation + one shuffle-free token-sketch pass,
        both O(batch); the sketch merge is O(capacity) driver-side.  The
        versioned sketch write precedes the meta commit (crash -> orphan
        dir + unchanged state; retry overwrites it)."""
        m = self._meta
        df = tf.df if hasattr(tf, "df") else tf
        if lang_col and lang_col not in df.columns:
            lang_col = None
        if source_col and source_col not in df.columns:
            source_col = None
        toks = tokenize_expr(text_col)
        base = df.select(
            F.expr(f"size({toks})").alias("__nw"),
            F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("__nc"),
            *([F.col(lang_col).alias("__lang")] if lang_col else []),
            *([F.col(source_col).alias("__src")] if source_col else []),
        ).localCheckpoint(eager=True)  # one batch scan feeds all aggs

        w, nb = m["hist_width"], m["hist_buckets"]
        hist_exprs = [
            F.sum(
                (
                    (F.col("__nw") >= i * w)
                    & ((F.col("__nw") < (i + 1) * w) | F.lit(i == nb - 1))
                ).cast("long")
            ).alias(f"__h{i}")
            for i in range(nb)
        ]
        row = base.agg(
            F.count(F.lit(1)).alias("__docs"),
            F.sum("__nw").alias("__toks"),
            F.sum("__nc").alias("__chars"),
            *hist_exprs,
        ).first()
        if not row["__docs"]:
            return self.stats()

        def _key_counts(col: str, label: str) -> dict:
            rows = (
                base.groupBy(col).count().limit(m["max_keys"] + 1).collect()
            )
            if len(rows) > m["max_keys"]:
                raise ValueError(
                    f"{label} cardinality exceeds max_keys={m['max_keys']}; "
                    "per-key counts are meta-resident — raise max_keys or "
                    "drop the column"
                )
            return {("" if r[0] is None else str(r[0])): int(r[1]) for r in rows}

        lang_counts = _key_counts("__lang", "lang") if lang_col else {}
        src_counts = _key_counts("__src", "source") if source_col else {}

        # quantile sketch: quantized token-count histogram, one tiny
        # group-by over the already-checkpointed base frame (states
        # created before r10 have no q_bits and skip this)
        q_counts = {}
        if m.get("q_bits") is not None:
            q_counts = {
                int(r[0]): int(r[1])
                for r in base.groupBy(
                    F.expr(_quantize_sql("__nw", m["q_bits"])).alias("__q")
                ).count().collect()
            }

        # token sketch: explode is narrow (no shuffle); the MG pass runs
        # at scan parallelism with O(capacity) memory per partition
        tok_df = df.select(
            F.explode(F.expr(toks)).alias("__token")
        ).mapInPandas(
            _mg_partition("__token", m["capacity"]),
            schema="__token string, __mg long, __tot long",
        )
        batch_summary = {
            r[0]: int(r[1])
            for r in tok_df.where(F.col("__token").isNotNull())
            .groupBy("__token")
            .agg(F.sum("__mg"))
            .collect()
        }
        merged = self._read_sketch()
        for t, n in batch_summary.items():
            merged[t] = merged.get(t, 0) + n
        merged = _mg_reduce(merged, m["capacity"])

        new_epoch = m["sketch_epoch"] + 1
        self._write_sketch(merged, new_epoch)

        # single commit point: counters + maps + sketch pointer change
        # together, staged into a COPY so a failed write leaves the live
        # object consistent with disk (a retried ingest re-runs cleanly)
        nm = json.loads(json.dumps(m))
        nm["n_batches"] += 1
        nm["n_docs"] += int(row["__docs"])
        nm["n_tokens"] += int(row["__toks"] or 0)
        nm["n_chars"] += int(row["__chars"] or 0)
        for i in range(nb):
            nm["hist"][i] += int(row[f"__h{i}"] or 0)
        for k, n in lang_counts.items():
            nm["lang"][k] = nm["lang"].get(k, 0) + n
        for k, n in src_counts.items():
            nm["source"][k] = nm["source"].get(k, 0) + n
        for k, n in q_counts.items():
            nm["q_counts"][str(k)] = nm["q_counts"].get(str(k), 0) + n
        nm["sketch_epoch"] = new_epoch
        if _stream_batch is not None:
            nm["last_stream_batch"] = int(_stream_batch)
        self._commit(nm)
        return self.stats()

    def _commit(self, new_meta: dict) -> None:
        self._write_meta(new_meta)
        self._meta = new_meta

    def _read_sketch(self) -> dict:
        if not self._meta["sketch_epoch"]:
            return {}
        return {
            r[0]: int(r[1])
            for r in self.spark.read.parquet(self._sketch_path()).collect()
        }

    def _write_sketch(self, counters: dict, epoch: int) -> None:
        import pandas as pd

        pdf = pd.DataFrame(
            {"token": list(counters.keys()) or pd.Series([], dtype=str),
             "mg": list(counters.values()) or pd.Series([], dtype="int64")}
        )
        (
            self.spark.createDataFrame(pdf, schema="token string, mg long")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(self._sketch_path(epoch))
        )

    # -- queries -----------------------------------------------------------

    def report(self) -> TidyFrame:
        """The EXACT components as tagged rows ``(kind, key, n)`` —
        totals, per-lang and per-source doc counts, and the token-length
        histogram (key ``[lo,hi)``, last bucket open).  Deterministic and
        batch-order-independent, so a declarative SQL replay over the
        ingested batches hash-matches it (the d49 driver row)."""
        m = self._meta
        w, nb = m["hist_width"], m["hist_buckets"]
        rows = [
            ("total", "docs", m["n_docs"]),
            ("total", "tokens", m["n_tokens"]),
            ("total", "chars", m["n_chars"]),
        ]
        rows += [("lang", k, n) for k, n in sorted(m["lang"].items())]
        rows += [("source", k, n) for k, n in sorted(m["source"].items())]
        rows += [
            (
                "hist",
                f"[{i * w},{(i + 1) * w})" if i < nb - 1 else f"[{i * w},inf)",
                m["hist"][i],
            )
            for i in range(nb)
        ]
        if m.get("q_bits") is not None and m["n_docs"]:
            rows += [
                ("quantile", f"p{round(q * 100)}", est)
                for q, est in self._quantile_values(_REPORT_QS)
            ]
        return TidyFrame(
            self.spark.createDataFrame(rows, "kind string, key string, n long")
        )

    def _quantile_values(self, qs) -> list[tuple[float, int]]:
        m = self._meta
        counts = sorted((int(k), v) for k, v in m.get("q_counts", {}).items())
        n = sum(v for _, v in counts)
        out = []
        for q in qs:
            if not (0.0 <= q <= 1.0):
                raise ValueError(f"quantile {q} outside [0, 1]")
            rank = max(1, math.ceil(q * n))  # = DuckDB quantile_disc
            cum = 0
            est = counts[-1][0] if counts else 0
            for v, c in counts:
                cum += c
                if cum >= rank:
                    est = v
                    break
            out.append((q, est))
        return out

    def quantiles(self, qs=_REPORT_QS) -> TidyFrame:
        """Token-count quantile estimates from the mergeable quantized
        sketch: ``(q, est)`` with the ONE-SIDED guarantee ``0 <= true -
        est <= true * 2**-q_bits`` against the exact ``quantile_disc``
        order statistic (``Q`` is monotone, so the sketch's rank-r value
        IS ``Q`` of the true rank-r value — module docstring).  Against
        the interpolating ``quantile_cont`` the same band applies
        whenever both straddling order statistics share a bucket; at a
        bucket boundary the extra slack is at most the gap between
        them."""
        m = self._meta
        if m.get("q_bits") is None:
            raise ValueError(
                "this state predates the quantile sketch — re-create it"
            )
        if not m["n_docs"]:
            raise ValueError("empty state — ingest first")
        return TidyFrame(self.spark.createDataFrame(
            [(float(q), int(est)) for q, est in self._quantile_values(qs)],
            "q double, est long",
        ))

    def heavy_hitters(self, threshold_frac: float | None = None) -> TidyFrame:
        """Token count intervals from the stored sketch: ``(token, mg,
        count_lo, count_hi, guaranteed)`` for every sketch token whose
        count COULD reach ``threshold_frac`` (default: the create-time
        threshold).  ``count_lo = mg`` (MG never overcounts),
        ``count_hi = mg + N/(c+1)`` (the merge bound), ``guaranteed`` is
        true when the lower bound alone clears the threshold.  Tokens
        absent from the result are guaranteed below the threshold."""
        m = self._meta
        frac = m["threshold_frac"] if threshold_frac is None else threshold_frac
        if frac < m["threshold_frac"]:
            raise ValueError(
                f"threshold_frac={frac} is below the sketch's create-time "
                f"resolution {m['threshold_frac']}; re-create with a finer "
                "threshold"
            )
        bound = m["n_tokens"] // (m["capacity"] + 1)
        need = math.ceil(frac * m["n_tokens"]) if m["n_tokens"] else 0
        if not m["sketch_epoch"]:
            return TidyFrame(self.spark.createDataFrame(
                [], "token string, mg long, count_lo long, count_hi long, "
                    "guaranteed boolean"))
        sk = self.spark.read.parquet(self._sketch_path())
        return TidyFrame(
            sk.select(
                "token",
                "mg",
                F.col("mg").alias("count_lo"),
                (F.col("mg") + F.lit(bound)).alias("count_hi"),
                (F.col("mg") >= F.lit(need)).alias("guaranteed"),
            ).where(F.col("count_hi") >= F.lit(need))
        )

    # -- composition -------------------------------------------------------

    def merge_from(self, other: "CorpusStatsState") -> dict:
        """Fan-in of independently built stats states (shard-parallel
        builds): exact components add; sketches merge under the same
        PODS'12 rule, so the undercount bound stays
        ``combined_N/(c+1)``.  Geometries must match."""
        m, om = self._meta, other._meta
        for k in ("capacity", "hist_width", "hist_buckets", "q_bits"):
            if m.get(k) != om.get(k):
                raise ValueError(
                    f"geometry mismatch on {k}: {m.get(k)} != {om.get(k)} — "
                    "stats states merge only with identical create-time "
                    "geometry"
                )
        merged = self._read_sketch()
        for t, n in other._read_sketch().items():
            merged[t] = merged.get(t, 0) + n
        merged = _mg_reduce(merged, m["capacity"])
        new_epoch = m["sketch_epoch"] + 1
        self._write_sketch(merged, new_epoch)
        nm = json.loads(json.dumps(m))
        nm["n_batches"] += om["n_batches"]
        nm["n_docs"] += om["n_docs"]
        nm["n_tokens"] += om["n_tokens"]
        nm["n_chars"] += om["n_chars"]
        for i in range(nm["hist_buckets"]):
            nm["hist"][i] += om["hist"][i]
        for src, dst in ((om["lang"], nm["lang"]), (om["source"], nm["source"])):
            for k, n in src.items():
                dst[k] = dst.get(k, 0) + n
        for k, n in om.get("q_counts", {}).items():
            nm["q_counts"][k] = nm["q_counts"].get(k, 0) + n
        if len(nm["lang"]) > nm["max_keys"] or len(nm["source"]) > nm["max_keys"]:
            raise ValueError(
                "merged key cardinality exceeds max_keys — per-key counts "
                "are meta-resident"
            )
        nm["sketch_epoch"] = new_epoch
        self._commit(nm)
        return self.stats()

    # -- streaming ---------------------------------------------------------

    def stream_ingest(
        self,
        stream_tf,
        checkpoint: str,
        text_col: str = "text",
        lang_col: str | None = "lang",
        source_col: str | None = "source",
        trigger: str | None = None,
    ):
        """Continuous statistics over landing shards — EXACTLY-ONCE: the
        committed stream batch id is written in the SAME meta commit as
        the counters it covers, so a micro-batch replayed after any
        crash (before or after the sketch write) is skipped instead of
        double-counted.  Returns the StreamingQuery."""

        def _ingest_batch(batch_df, batch_id: int) -> None:
            if batch_id <= self._meta["last_stream_batch"]:
                return  # replay of an already-committed batch
            if not batch_df.isEmpty():
                # the commit id rides in ingest's single meta write, so
                # counters + sketch pointer + stream progress flip together
                self.ingest(
                    TidyFrame(batch_df), text_col=text_col,
                    lang_col=lang_col, source_col=source_col,
                    _stream_batch=batch_id,
                )
            else:
                nm = json.loads(json.dumps(self._meta))
                nm["last_stream_batch"] = int(batch_id)
                self._commit(nm)

        return foreach_batch(
            stream_tf, _ingest_batch, checkpoint, mode="append", trigger=trigger
        )


def _mg_reduce(counters: dict, capacity: int) -> dict:
    """Agarwal et al. (PODS'12) summary reduction: if more than
    ``capacity`` counters survive a merge, subtract the
    (capacity+1)-largest count from everything and drop the
    non-positive — undercount grows by at most that decrement, keeping
    the lifetime bound N/(capacity+1)."""
    over = len(counters) - capacity
    if over <= 0:
        return counters
    d = sorted(counters.values())[over - 1]
    return {t: n - d for t, n in counters.items() if n > d}
