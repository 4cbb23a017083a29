"""Per-session results and per-session storage: the one rule.

Key. Every memoized result lives in one dict keyed by
``(Spark applicationId, sf_dir, name)``. A fresh driver session has a
new application id, so it never sees an entry an earlier session
built. ``memo`` is the package's only per-session memo
(tests/test_cache.py keeps it that way).

Storage is the builder's choice. ``memo`` stores whatever ``build()``
returns — a persisted or checkpointed DataFrame, a staged path, a
count, a schema, a tuple — and never changes it. ``shared`` is
``memo`` of ``build().localCheckpoint(eager=True)``, the common choice
for intermediates several declared keys compose over.

Live view. Inside ``with live_plans():`` ``shared`` returns ``build()``
itself — neither checkpointed nor memoized — so a declared key's
DataFrame carries its full plan instead of a checkpoint scan; the plan
audit (tests/test_plan_hygiene.py) and the explain tools read keys this
way. The flag is a ContextVar, so it holds only in the calling thread.
A ``memo`` miss runs its builder with the view off, so what ``_MEMO``
stores never depends on which view first asked for it.

Naming. Everything staged for an sf_dir is named
``<name>_<slug>_<md5(sf_dir)[:8]>`` (``stage_name``). The slug keeps the
name readable; the digest keeps it injective, because the slug maps
'/', '.' and '_' all to '_' (``/d/sf0.1`` and ``/d/sf0_1`` share one).
``stage_dir`` places that name under one per-application root in the
system temp dir, so concurrent sessions never race on a path.

Cleanup. Each staging root is removed when the interpreter exits.
"""

from __future__ import annotations

import atexit
import contextvars
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_MEMO: dict[tuple[str, str, str], object] = {}

_LIVE: contextvars.ContextVar[bool] = contextvars.ContextVar(
    "live_plans", default=False
)

# Staging roots this process created, removed at interpreter exit
# (ADVICE r7: per-application staging dirs under gettempdir() used to
# accumulate across runs). One rmtree per root; ignore_errors because
# a concurrent reader losing the race at exit is harmless.
_STAGING_ROOTS: set[str] = set()


def memo(spark: SparkSession, sf_dir: str, name: str, build: Callable[[], T]) -> T:
    """``build()`` once per (session, sf_dir, name); later calls return
    the stored result as is."""
    k = (spark.sparkContext.applicationId, sf_dir, name)
    if k not in _MEMO:
        token = _LIVE.set(False)
        try:
            _MEMO[k] = build()
        finally:
            _LIVE.reset(token)
    return _MEMO[k]


def shared(
    spark: SparkSession, sf_dir: str, key: str, build: Callable[[], DataFrame]
) -> DataFrame:
    if _LIVE.get():
        return build()
    return memo(spark, sf_dir, key, lambda: build().localCheckpoint(eager=True))


@contextmanager
def live_plans() -> Iterator[None]:
    """Within the block, this thread's ``shared`` calls return their
    live builds (see the module docstring)."""
    token = _LIVE.set(True)
    try:
        yield
    finally:
        _LIVE.reset(token)


def stage_name(sf_dir: str, name: str) -> str:
    """The naming rule: ``<name>_<slug>_<md5(sf_dir)[:8]>``."""
    slug = "".join(c if c.isalnum() else "_" for c in sf_dir)
    return f"{name}_{slug}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"


def stage_dir(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Path of the per-session staged store ``name`` for sf_dir. The
    caller's writer creates it."""
    root = os.path.join(
        tempfile.gettempdir(),
        f"dgdb_stage_{spark.sparkContext.applicationId}",
    )
    os.makedirs(root, exist_ok=True)
    if root not in _STAGING_ROOTS:
        _STAGING_ROOTS.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return os.path.join(root, stage_name(sf_dir, name))
