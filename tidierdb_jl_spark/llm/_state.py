"""Lifecycle shared by the persistent states (dedup, near-dup, embedding
dedup, corpus prep, corpus stats, vector index): a directory on any
filesystem Spark reaches plus one JSON meta file in it, named by the
class's ``_META``.  Meta writes are write-tmp-then-swap and reads fall
back to the tmp file (see :mod:`tidierdb_jl_spark.sources.fsio`)."""

from __future__ import annotations

import json

from ..sources.fsio import (
    fs_exists,
    fs_mkdirs,
    join_path,
    read_text,
    write_text_atomic,
)


class _PersistentState:
    _META: str  # meta file name, fixed per class (part of the on-disk layout)

    def __init__(self, spark, path: str, meta: dict):
        self.spark = spark
        self.path = str(path)
        self._meta = meta

    @classmethod
    def _create(cls, spark, path: str, meta: dict):
        """Initialize a new state directory with ``meta``; refuses to
        overwrite an existing state."""
        path = str(path)
        if fs_exists(spark, join_path(path, cls._META)):
            raise ValueError(f"{cls.__name__} already exists at {path}")
        fs_mkdirs(spark, path)
        st = cls(spark, path, meta)
        st._write_meta()
        return st

    @classmethod
    def open(cls, spark, path: str):
        meta = json.loads(
            read_text(spark, join_path(str(path), cls._META), tmp_fallback=True)
        )
        return cls(spark, str(path), meta)

    def _write_meta(self, meta: dict | None = None) -> None:
        write_text_atomic(
            self.spark,
            join_path(self.path, self._META),
            json.dumps(self._meta if meta is None else meta),
        )
