"""Explicit, portable bloom filters for membership-style joins at corpus
scale.

The use case (LLM ingest pipelines): drop every document whose key (URL,
doc hash, benchmark id) appears in a *large* "seen" set — 10⁸-10⁹ keys —
without shuffling the 100 TB corpus.  A broadcast-hash semi-join ships the
raw keys to every executor (30+ GB for 10⁹ urls); a shuffled semi-join
shuffles the corpus.  A bloom filter broadcast is ~1.2 GB at 1% FPR for
10⁹ keys, and because a bloom filter has **no false negatives** the exact
result is recoverable by re-verifying only the tiny bloom-positive slice
with a real join:

    ``bloom_anti_join(corpus, seen)``  =  negatives pass through (a pure
    scan-side Filter, zero shuffle)  ∪  positives anti-verified against
    ``seen`` (a join whose probe input is ~FPR × |corpus| + |true hits|).

Spark injects its own *runtime* bloom filters into shuffled joins
(``spark.sql.optimizer.runtime.bloomFilter.enabled``), but that is
per-query, optimizer-thresholded, and not reusable.  This module makes
the filter a first-class user artifact:

- built distributedly (per-partition word bitmaps OR-merged by a narrow
  64-bit-word aggregation; driver memory bounded by ``num_bits/8``);
- stored as a plain hex string → persists to disk, ships across sessions,
  and OR-merges (``bloom_merge``) for incremental ingest: keep yesterday's
  filter, build today's batch filter, merge, probe tomorrow;
- probed with pure JVM expressions (``xxhash64`` positions + ``conv``/
  ``substring`` bit tests on a CHUNKED array literal — ``element_at`` is
  O(1) and the in-chunk walk is bounded, see ``_PROBE_CHUNK``) —
  whole-stage codegen, no Python, no shuffle, no join for the negative
  path;
- above the plan-literal cap (2^26 bits), probed via a BROADCAST
  bitmap: the k bit positions are still computed JVM-side (identical
  ``xxhash64`` — the artifact is mode-portable), and the bit tests run
  in one Arrow-batched pandas UDF against a ``sparkContext.broadcast``
  numpy nibble array.  The bitmap ships to each executor ONCE as data
  (torrent broadcast) instead of riding inside every serialized task's
  plan — at 10⁹ keys / 1% FPR that is a ~150 MB broadcast vs an
  unusable 300 MB plan literal.  Still zero shuffle, zero state I/O.
  MEASURED r10 (BENCH_DEDUPSTATE.md): ~16M rows/s marginal, flat in
  ``m`` — the Python stage does NOT dominate (the r9 verdict's open
  question); a pure-JVM ``wordjoin`` alternative (k BroadcastHashJoins
  on a BLOCKED word relation, r11) has ~1.6× lower marginal cost and,
  since the r11 block packing, a sub-second fixed setup — competitive
  from ~10⁷ probe rows.

The reference has no bloom surface; this is a beyond-reference scale op
(SURVEY "LLM-pipeline" family).  Design follows the classic Bloom (1970)
construction with k independent hashes via ``xxhash64(col, i)``.

Bitmap layout (fixed contract between build/probe/merge): bit position
``p`` lives in hex character ``p // 4`` of the artifact (most-significant
nibble first is NOT used — character n encodes bits 4n..4n+3, where bit
offset ``o = p % 4`` is tested as ``(nibble >> o) & 1``).
"""

from __future__ import annotations

import math
import warnings

import pandas as pd
from pyspark.sql import functions as F

__all__ = [
    "bloom_size",
    "bloom_build",
    "bloom_merge",
    "bloom_mark",
    "bloom_semi_join",
    "bloom_anti_join",
]

# 16 MiB of hex chars = 2^26 bits ≈ 6.7e6 keys at 1% FPR.  Above this the
# plan literal gets heavy, so bloom_mark's "auto" mode switches to the
# broadcast-bitmap probe (same artifact, same hashes, same answers).
_MAX_BITS_DEFAULT = 1 << 26

_HEX = b"0123456789abcdef"


def _nib_values(bits: str):
    """Hex artifact -> numpy uint8 array of NIBBLE VALUES (index = hex
    char position = bit_position // 4).  Vectorized: one take() over a
    256-entry ASCII->value table."""
    import numpy as np

    table = np.zeros(256, dtype=np.uint8)
    for i, c in enumerate(_HEX):
        table[c] = i
    return table[np.frombuffer(bits.encode("ascii"), dtype=np.uint8)]


def _vals_to_hex(vals) -> str:
    import numpy as np

    return np.frombuffer(_HEX, dtype=np.uint8)[vals].tobytes().decode("ascii")


def bloom_size(expected_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Classic sizing: optimal ``(num_bits, num_hashes)`` for an expected
    item count at a target false-positive probability.
    m = -n ln p / (ln 2)^2, k = (m/n) ln 2."""
    if expected_items <= 0:
        raise ValueError("expected_items must be positive")
    if not (0.0 < fpp < 1.0):
        raise ValueError("fpp must be in (0, 1)")
    m = int(math.ceil(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, (m + 63) // 64 * 64)  # whole 64-bit words
    k = max(1, round(m / expected_items * math.log(2)))
    return m, k


def _positions(key_sql: str, num_bits: int, num_hashes: int) -> list[str]:
    """k bit positions for a key, as SQL: ``pmod(xxhash64(key, i), m)``.
    ``xxhash64`` with the extra literal arg is a fresh independent hash
    per i (the literal participates in the hashed tuple)."""
    return [f"pmod(xxhash64({key_sql}, {i}), {num_bits})" for i in range(num_hashes)]


def _key_sql(sdf, key):
    """``(frame, SQL text of the key)``.  A SQL-string key is used as is;
    a Column key is projected into a helper column ``__bloom_key`` (the
    caller drops it), since a Column cannot be spliced into SQL text.
    Probe and build expressions are then emitted as SQL strings: one py4j
    round trip each instead of ~20 per hash through the Column API."""
    if isinstance(key, str):
        return sdf, f"({key})"
    return sdf.withColumn("__bloom_key", key), "`__bloom_key`"


def bloom_build(
    df,
    key,
    num_bits: int | None = None,
    num_hashes: int | None = None,
    expected_items: int | None = None,
    fpp: float = 0.01,
) -> dict:
    """Build a bloom filter over ``key`` (a column name or SQL expression)
    and return a portable artifact ``{"bits": hexstr, "m": int, "k": int}``.

    Size it either explicitly (``num_bits`` + ``num_hashes``) or via
    ``expected_items`` + ``fpp`` (→ ``bloom_size``).  NULL keys are
    skipped (probe treats NULL as a non-member, matching SQL join-key
    semantics where NULL never equals anything).

    Scale shape: one narrow shuffle of (word_index, mask) pairs — k rows
    per input row pre-combine, map-side ``bit_or`` partial aggregation
    collapses them — then a driver collect bounded by ``num_bits / 64``
    rows (8 bytes of payload each): the driver holds the *bitmap*, never
    the keys.  For the default cap (2^26 bits) that is ≤ 1M rows / 16 MiB
    of hex — the same order as broadcasting the artifact itself.
    """
    if num_bits is None or num_hashes is None:
        if expected_items is None:
            raise ValueError(
                "size the filter: pass num_bits+num_hashes or expected_items"
            )
        m, k = bloom_size(expected_items, fpp)
        num_bits = num_bits or m
        num_hashes = num_hashes or k
    num_bits = (num_bits + 63) // 64 * 64
    sdf, key_sql = _key_sql(df.df if hasattr(df, "df") else df, key)
    positions = ", ".join(_positions(key_sql, num_bits, num_hashes))
    words = (
        sdf.where(f"{key_sql} IS NOT NULL")
        .selectExpr(f"explode(array({positions})) AS p")
        .groupBy(F.expr("p DIV 64").alias("w"))
        .agg(F.expr("bit_or(shiftleft(1L, CAST(p % 64 AS INT)))").alias("bits"))
        .toPandas()
    )
    # vectorized assembly: at 10^8+ keys most of the m/64 words are
    # non-zero, and a per-nibble Python loop (16 ops x 10^7 rows) costs
    # minutes; 16 numpy shifts cost milliseconds
    import numpy as np

    w = words["w"].to_numpy(dtype=np.int64)
    v = words["bits"].to_numpy(dtype=np.int64).view(np.uint64)
    vals = np.zeros(num_bits // 4, dtype=np.uint8)
    for j in range(16):
        vals[w * 16 + j] = (v >> np.uint64(4 * j)).astype(np.uint8) & 0xF
    return {"bits": _vals_to_hex(vals), "m": num_bits, "k": num_hashes}


def bloom_merge(*filters: dict) -> dict:
    """OR-merge filters built with identical (m, k) — the incremental
    ingest primitive: union of key sets == OR of bitmaps, exactly."""
    if not filters:
        raise ValueError("nothing to merge")
    m, k = filters[0]["m"], filters[0]["k"]
    for f in filters[1:]:
        if f["m"] != m or f["k"] != k:
            raise ValueError("bloom_merge requires identical (m, k) sizing")
    acc = _nib_values(filters[0]["bits"])
    for f in filters[1:]:
        acc |= _nib_values(f["bits"])
    return {"bits": _vals_to_hex(acc), "m": m, "k": k}


# hex chars per array-literal chunk in the literal probe.  Spark's
# substring(str, pos, 1) with a PER-ROW pos walks the string from byte 0
# (UTF8String counts code points), so probing one big literal is
# O(position) per probe — measured 37 ms/row against a 240 KB literal
# (the r8 shape; its "substring on a literal is O(1)" claim was wrong).
# Chunking bounds the walk: element_at on the array literal is O(1),
# the inner substring walks <= _PROBE_CHUNK bytes.  4096 is the measured
# sweet spot (100k-row probe of a 1M-bit filter: 3.1 s at 256, 0.76 s at
# 4096, 1.4 s at 16384 — small chunks bloat the expression/codegen, big
# ones bring back the walk).
_PROBE_CHUNK = 4096


def _probe_literal(sdf, key_sql: str, bloom: dict, into: str):
    """Pure-JVM membership test: for each of the k positions, pick the
    hex nibble (O(1) ``element_at`` into a chunked array literal + a
    bounded ``substring`` within the chunk), decode it (``conv``), test
    the bit.  AND of k lookups, each O(_PROBE_CHUNK) worst-case inside
    whole-stage codegen, independent of filter size.

    The chunk array rides a helper column so the SQL text carries the
    bitmap once, not k times; the optimizer folds it back into a single
    literal inside the probe's projection."""
    bits = bloom["bits"]
    chunks = ", ".join(
        f"'{bits[i:i + _PROBE_CHUNK]}'" for i in range(0, len(bits), _PROBE_CHUNK)
    )
    tests = [f"{key_sql} IS NOT NULL"]
    for p in _positions(key_sql, bloom["m"], bloom["k"]):
        chunk = f"element_at(`__bloom_chunks`, CAST({p} DIV {4 * _PROBE_CHUNK} AS INT) + 1)"
        nib = f"conv(substring({chunk}, CAST(({p} DIV 4) % {_PROBE_CHUNK} AS INT) + 1, 1), 16, 10)"
        tests.append(f"shiftright(CAST({nib} AS INT), CAST({p} % 4 AS INT)) & 1 = 1")
    return (
        sdf.withColumn("__bloom_chunks", F.expr(f"array({chunks})"))
        .withColumn(into, F.expr(" AND ".join(tests)))
        .drop("__bloom_chunks")
    )


def _probe_broadcast(sdf, key_sql: str, bloom: dict, into: str):
    """Broadcast-bitmap probe for filters too big to ride the plan as a
    literal.  Hash positions stay JVM-side (same ``_positions`` — the
    artifact is mode-portable: literal and broadcast answers are
    identical); only the k bit tests run in Python, Arrow-batched and
    fully vectorized over each batch.  The bitmap broadcast lives for
    the session (or until ``unpersist``); at 10⁹ keys / 1% FPR it is
    ~300 MB of nibble values shipped once per executor."""
    from pyspark.sql.functions import pandas_udf

    nib = _nib_values(bloom["bits"])
    bc = sdf.sparkSession.sparkContext.broadcast(nib)
    positions = ", ".join(_positions(key_sql, bloom["m"], bloom["k"]))
    pos_arr = F.expr(f"CASE WHEN {key_sql} IS NOT NULL THEN array({positions}) END")

    @pandas_udf("boolean")
    def _probe(pos: pd.Series) -> pd.Series:
        import numpy as np

        arr = bc.value
        mask = pos.notna()
        out = pd.Series(False, index=pos.index)
        if mask.any():
            mat = np.stack(pos[mask].to_numpy())  # (rows, k) int64
            out[mask] = (((arr[mat // 4] >> (mat % 4)) & 1) == 1).all(axis=1)
        return out

    return sdf.withColumn(into, _probe(pos_arr))


# 64-bit words per broadcast-relation row in the wordjoin probe.  The
# r10 shape (one row per NON-ZERO word) measured ~12 s PER broadcast at
# m=2^27: AQE does not reuse exchanges over pandas/Arrow-backed local
# relations (k=1: 17 s, k=7: 89 s — measured r11), and each of the k
# un-reused BroadcastExchanges re-ran the Arrow->InternalRow conversion
# and built a 2M-entry HashedRelation.  Packing 4096 words (32 KiB)
# per row cuts the relation to m/2^18 rows (512 at m=2^27): the
# HashedRelation build is trivial and the per-broadcast cost is one
# bitmap-sized memcpy, so even k UN-reused broadcasts stay sub-second.
_WJ_BLOCK = 4096


def _probe_wordjoin(sdf, key_sql: str, bloom: dict, into: str):
    """JVM-only probe: the bitmap becomes a broadcast
    (block_index, array<long> of ``_WJ_BLOCK`` words) relation, and each
    of the k probes is one BroadcastHashJoin fetching its block followed
    by an O(1) ``element_at`` + codegen bit test.  Zero shuffle of the
    probe side, zero Python in the row path.

    Measured (r10/r11, BENCH_DEDUPSTATE.md): marginal cost ~35 ns/row vs
    the Arrow UDF probe's ~57 ns/row; the r11 blocked relation cuts the
    fixed setup from ~12 s per broadcast (k un-reused 2M-row relations
    at m=2^27) to sub-second for all k together, making this mode
    competitive from ~10⁷ probe rows.

    Blocks are zero-padded to cover the full bit range, so every
    position's block exists; the left join + coalesce(0) is belt and
    braces (an absent word is an all-zero word — a definitive miss).
    Answers are bit-identical to the literal and broadcast-UDF modes
    (same ``_positions`` hashes, same bitmap content).
    """
    import numpy as np
    import pandas as pd

    nib = _nib_values(bloom["bits"]).astype(np.uint64)
    words = np.zeros(bloom["m"] // 64, dtype=np.uint64)
    for j in range(16):
        words |= nib[j::16] << np.uint64(4 * j)
    nblocks = (len(words) + _WJ_BLOCK - 1) // _WJ_BLOCK
    padded = np.zeros(nblocks * _WJ_BLOCK, dtype=np.uint64)
    padded[:len(words)] = words
    blocks = padded.view(np.int64).reshape(nblocks, _WJ_BLOCK)
    wdf = sdf.sparkSession.createDataFrame(pd.DataFrame({
        "__bloom_b": np.arange(nblocks, dtype=np.int64),
        "__bloom_blk": list(blocks),
    }))

    out = sdf
    tests = []
    for i, p_sql in enumerate(_positions(key_sql, bloom["m"], bloom["k"])):
        p = F.expr(p_sql)
        bcol = f"__bb{i}"
        rhs = wdf.alias(f"__bwrel{i}")
        widx = (p / 64).cast("long")
        out = (
            out.withColumn(bcol, (widx / _WJ_BLOCK).cast("long"))
            .join(
                F.broadcast(rhs),
                F.col(bcol) == F.col(f"__bwrel{i}.__bloom_b"),
                "left",
            )
            .withColumn(
                f"__bword{i}",
                F.coalesce(
                    F.element_at(
                        F.col(f"__bwrel{i}.__bloom_blk"),
                        (widx % _WJ_BLOCK).cast("int") + 1,
                    ),
                    F.lit(0).cast("long"),
                ),
            )
            .drop(F.col(f"__bwrel{i}.__bloom_b"))
            .drop(F.col(f"__bwrel{i}.__bloom_blk"))
        )
        bit = F.call_function(
            "shiftright", F.col(f"__bword{i}"), (p % 64).cast("int")
        ).bitwiseAND(1)
        tests.append(bit == 1)
    cond = F.expr(f"{key_sql} IS NOT NULL")
    for t in tests:
        cond = cond & t
    helper = [c for i in range(bloom["k"]) for c in (f"__bb{i}", f"__bword{i}")]
    return out.withColumn(into, cond).drop(*helper)


def bloom_mark(tf, key, bloom: dict, into: str = "bloom_hit", mode: str = "auto"):
    """Append a boolean column: might the key be in the filter?  False is
    definitive (no false negatives); True is probabilistic at the filter's
    FPR.  Zero shuffle — a scan-side projection.

    ``mode``: "literal" embeds the bitmap in the plan (pure JVM,
    whole-stage codegen, zero fixed cost — right for small filters and
    small probe counts); "broadcast" ships the nibble bitmap ONCE as a
    spark broadcast probed by one Arrow-batched pandas UDF — measured
    (r10, BENCH_DEDUPSTATE.md) ~16M rows/s marginal FLAT in ``m``,
    which beats the literal probe's chunk walk even at 10⁶ bits and is
    the auto big-``m`` path; "wordjoin" ships the bitmap as a broadcast
    (block, array<long>) relation probed by k BroadcastHashJoins — pure
    JVM, lower marginal cost (~35 vs ~57 ns/row) with a sub-second
    fixed setup since the r11 block packing.
    "auto" (default) picks literal vs broadcast by ``m`` against the
    2^26-bit cap.  All modes probe the identical positions — answers
    are bit-for-bit the same."""
    from ..core import TidyFrame

    if mode not in ("auto", "literal", "broadcast", "wordjoin"):
        raise ValueError(
            f"mode must be auto|literal|broadcast|wordjoin, got {mode!r}"
        )
    sdf, key_sql = _key_sql(tf.df if hasattr(tf, "df") else tf, key)
    if mode == "auto":
        mode = "literal" if bloom["m"] <= _MAX_BITS_DEFAULT else "broadcast"
    if mode == "wordjoin":
        out = _probe_wordjoin(sdf, key_sql, bloom, into)
    elif mode == "broadcast":
        out = _probe_broadcast(sdf, key_sql, bloom, into)
    else:
        if bloom["m"] > _MAX_BITS_DEFAULT:
            warnings.warn(
                f"literal-mode probe of a {bloom['m']}-bit filter embeds "
                f"{bloom['m'] // 4 / 1e6:.0f} MB of hex in the plan; use "
                "mode='broadcast' (or 'auto')",
                stacklevel=2,
            )
        out = _probe_literal(sdf, key_sql, bloom, into)
    if not isinstance(key, str):
        out = out.drop("__bloom_key")
    groups = getattr(tf, "groups", None)
    return TidyFrame(out, groups=groups)


def _exact_pair(tf, keys_tf, key, keys_key, bloom):
    from ..core import TidyFrame

    big = tf.df if hasattr(tf, "df") else tf
    keys_df = keys_tf.df if hasattr(keys_tf, "df") else keys_tf
    kk = keys_key or key
    marked = bloom_mark(TidyFrame(big), key, bloom, into="__bloom_hit").df
    pos = marked.where(F.col("__bloom_hit")).drop("__bloom_hit")
    neg = marked.where(~F.col("__bloom_hit")).drop("__bloom_hit")
    seen = keys_df.selectExpr(f"{kk} AS __bloom_key").where(
        F.col("__bloom_key").isNotNull()
    ).distinct()
    key_expr = F.expr(key) if isinstance(key, str) else key
    return pos, neg, seen, key_expr


def bloom_semi_join(tf, keys_tf, key, keys_key: str | None = None, bloom: dict | None = None, **size_kw):
    """EXACT semi-join (keep rows whose ``key`` appears in ``keys_tf``)
    with bloom pre-filtering: only the bloom-positive slice — true matches
    plus ~FPR of the corpus — enters the verifying join; everything else
    is eliminated by a scan-side Filter.  Pass a prebuilt ``bloom`` (the
    incremental path) or sizing kwargs for ``bloom_build`` on
    ``keys_tf``."""
    from ..core import TidyFrame

    if bloom is None:
        bloom = bloom_build(keys_tf, keys_key or key, **size_kw)
    pos, _neg, seen, key_expr = _exact_pair(tf, keys_tf, key, keys_key, bloom)
    out = pos.join(seen, key_expr == F.col("__bloom_key"), "left_semi")
    return TidyFrame(out, groups=getattr(tf, "groups", None))


def bloom_anti_join(tf, keys_tf, key, keys_key: str | None = None, bloom: dict | None = None, **size_kw):
    """EXACT anti-join (drop rows whose ``key`` appears in ``keys_tf``) —
    the blocklist/seen-set primitive.  Bloom-negative rows (the vast
    majority when the hit rate is low) pass through WITHOUT touching the
    join; only bloom-positives are anti-verified.  NULL keys are kept,
    matching left-anti semantics."""
    from ..core import TidyFrame

    if bloom is None:
        bloom = bloom_build(keys_tf, keys_key or key, **size_kw)
    pos, neg, seen, key_expr = _exact_pair(tf, keys_tf, key, keys_key, bloom)
    # NULL keys probe to a definitive False (isNotNull() AND ... is plain
    # false, never NULL, in 3VL), so `neg` already carries them — matching
    # left-anti semantics (NULL never equals anything, row is kept).
    verified = pos.join(seen, key_expr == F.col("__bloom_key"), "left_anti")
    out = neg.unionByName(verified)
    return TidyFrame(out, groups=getattr(tf, "groups", None))
