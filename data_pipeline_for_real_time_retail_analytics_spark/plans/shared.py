"""Per-application state that several plans share: one memo for frames
and values built once per input directory, and one rule for staging
directories.

Both key on ``(applicationId, os.path.abspath(sf_dir), name)``, so a
relative and an absolute spelling of one directory share an entry, and
two Spark applications on one host never share one.

This module is a LEAF: it imports only the standard library and
pyspark.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

_MEMO: dict[tuple[str, str, str], Any] = {}
_DIRS: set[str] = set()


def _key(spark: SparkSession, sf_dir: str, name: str) -> tuple[str, str, str]:
    return (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)


def shared(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], T]
) -> T:
    """``build()``'s result, computed once per (application, sf_dir, name).

    Staleness contract: entries key on the path, not the data. The
    inputs under ``sf_dir`` are immutable for the life of an
    application; a pipeline that rewrites them in place calls
    ``clear()`` first, or later callers get frames of the old data."""
    key = _key(spark, sf_dir, name)
    if key not in _MEMO:
        _MEMO[key] = build()
    return _MEMO[key]


def work_dir(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """A staging directory under ``tempfile.gettempdir()``, the same one
    on every call for one (application, sf_dir, tag): a re-driven query
    overwrites its staging instead of adding a directory per call. The
    directory is removed when the process exits."""
    digest = hashlib.md5("|".join(_key(spark, sf_dir, tag)).encode()).hexdigest()
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{tag}_{digest[:12]}")
    os.makedirs(path, exist_ok=True)
    if path not in _DIRS:
        _DIRS.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def clear() -> None:
    """Drop every memo entry; staging directories stay until exit."""
    _MEMO.clear()
