"""Session memos: an expensive deterministic intermediate is built once
and reused by the faces of one Spark session under ONE validity rule.
A value is served again only while its Spark application is the live
one (each call drops other ``applicationId``s' entries, whose plans and
checkpoint blocks died with their session), for equal parameters, and
while every source table keeps its ``sources.io.table_meta`` fingerprint
(rows, files, bytes, newest file mtime — no data scan), so a rewrite,
even an in-place one of the same size, rebuilds. ``clear`` empties one
memo or all; the bench's cold twins use it."""

from __future__ import annotations

from typing import Callable, Iterable, TypeVar

from pyspark.sql import SparkSession

from .sources.io import table_meta

T = TypeVar("T")

# (applicationId, name, params, table fingerprints) -> value
_entries: dict[tuple, object] = {}


def session_memo(
    spark: SparkSession,
    name: str,
    build: Callable[[], T],
    params: tuple = (),
    tables: Iterable[tuple[str, str]] = (),
) -> T:
    """``build()`` for memo ``name``, run once per live session, ``params``
    and fingerprint of the ``(sf_dir, table)`` pairs in ``tables``."""
    app = spark.sparkContext.applicationId
    for key in [k for k in _entries if k[0] != app]:
        del _entries[key]
    fingerprints = tuple((d, t, table_meta(d, t)) for d, t in tables)
    key = (app, name, params, fingerprints)
    if key not in _entries:
        _entries[key] = build()
    return _entries[key]  # type: ignore[return-value]


def clear(name: str | None = None) -> None:
    """Drop every entry of memo ``name`` (all memos when None)."""
    for key in [k for k in _entries if name is None or k[1] == name]:
        del _entries[key]
