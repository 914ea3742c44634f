"""Benchmark inputs: generated data, batch split and oracle answers.

Everything here derives from the workload seed, so the same seed gives the
same inputs.  It runs in its own process so that the generator's and
DuckDB's memory never shows in the measured driver's peak RSS::

    python3 perfbench/inputs.py <workload> <sf> <seed> <out_dir>

It writes ``<out_dir>/data/*.parquet`` (``tools/gen_sf.py`` with its seed
replaced by ``<seed>``) and ``<out_dir>/expected.pickle``:

- query workloads: the DuckDB ``oracle_sql()`` answer of each query as
  ``tests/helpers.canonical_rows`` output;
- ``corpus_ingest``: the batch files (``batches/docs_<i>.parquet``,
  ``batches/emb_<i>.parquet``), the 20 query vector ids and, per batch, the
  doc ids that a replay of ``DedupState.ingest`` keeps.
"""

from __future__ import annotations

import glob
import hashlib
import os
import pickle
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_BATCHES = 10
N_QUERY_VECS = 20


def _generate(sf: float, seed: int, data_dir: str) -> None:
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import gen_sf

    gen_sf.SEED = seed
    gen_sf.gen(sf, data_dir)


def _oracle_answers(data_dir: str, names: list[str]) -> dict:
    import duckdb

    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    import __spark_entry__ as entry_mod
    from helpers import canonical_rows

    osql = entry_mod.oracle_sql()
    con = duckdb.connect()
    try:
        for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.basename(p)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        return {n: canonical_rows(con.execute(osql[n]).fetchdf()) for n in names}
    finally:
        con.close()


def _fingerprint(text: str) -> str:
    """``textstats.with_fingerprint`` in Python: md5 of the whitespace-
    collapsed, space-trimmed, lowercased text."""
    norm = re.sub(r"\s+", " ", text, flags=re.ASCII).strip(" ").lower()
    return hashlib.md5(norm.encode("utf-8")).hexdigest()


def dedup_replay(batches: list[tuple[list[int], list[str]]]) -> list[list[int]]:
    """Doc ids ``DedupState.ingest`` keeps per batch: the smallest id of
    each fingerprint within the batch, unless an earlier batch kept it."""
    seen: set[str] = set()
    kept_per_batch = []
    for ids, texts in batches:
        first: dict[str, int] = {}
        for i, t in zip(ids, texts):
            fp = _fingerprint(t)
            if fp not in first or i < first[fp]:
                first[fp] = i
        kept = sorted(i for fp, i in first.items() if fp not in seen)
        seen.update(first)
        kept_per_batch.append(kept)
    return kept_per_batch


def _split_corpus(data_dir: str, seed: int, out_dir: str) -> dict:
    rng = np.random.default_rng(seed)
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).select(
        ["vec_id", "embedding"]
    )
    doc_batch = rng.permutation(docs.num_rows) % N_BATCHES
    emb_batch = rng.permutation(emb.num_rows) % N_BATCHES
    query_ids = sorted(
        int(v) for v in rng.choice(emb.column("vec_id").to_numpy(), N_QUERY_VECS, replace=False)
    )
    bdir = os.path.join(out_dir, "batches")
    os.makedirs(bdir, exist_ok=True)
    replay_in = []
    for b in range(N_BATCHES):
        d = docs.filter(pa.array(doc_batch == b))
        pq.write_table(d, os.path.join(bdir, f"docs_{b}.parquet"))
        pq.write_table(
            emb.filter(pa.array(emb_batch == b)), os.path.join(bdir, f"emb_{b}.parquet")
        )
        replay_in.append((d.column("doc_id").to_pylist(), d.column("text").to_pylist()))
    for path in glob.glob(os.path.join(data_dir, "*.parquet")):
        if os.path.basename(path) not in ("documents.parquet", "embeddings.parquet"):
            os.remove(path)  # keeps the input cache small
    return {"kept": dedup_replay(replay_in), "query_ids": query_ids}


def prepare(workload: str, sf: float, seed: int, out_dir: str) -> None:
    from workloads import query_names

    data_dir = os.path.join(out_dir, "data")
    _generate(sf, seed, data_dir)
    names = query_names(workload)
    if names:
        expected = _oracle_answers(data_dir, names)
    else:
        expected = _split_corpus(data_dir, seed, out_dir)
    with open(os.path.join(out_dir, "expected.pickle"), "wb") as fh:
        pickle.dump(expected, fh)


if __name__ == "__main__":
    _workload, _sf, _seed, _out = sys.argv[1:5]
    prepare(_workload, float(_sf), int(_seed), _out)
