"""Resource scopes: ``pin``/``scratch_dir`` hand a persist or temp dir
that outlives its operator to the innermost open scope, which releases
it on close. ``Pipeline.run_node`` runs each node inside ``owned()``; a
registry query's scope is released when the next one starts."""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame


class Scope:
    """``with scope:`` makes it innermost without releasing on exit."""

    def __init__(self) -> None:
        self.pins: list[DataFrame] = []
        self.dirs: list[str] = []

    def __enter__(self) -> Scope:
        self._token = _INNERMOST.set(self)
        return self

    def __exit__(self, *exc: object) -> None:
        _INNERMOST.reset(self._token)

    def release(self) -> None:
        for df in self.pins:
            df.unpersist()
        self.remove_dirs()

    def remove_dirs(self) -> None:
        for d in self.dirs:
            shutil.rmtree(d, ignore_errors=True)


#: per thread / asyncio task, so concurrent builds never share a scope
_INNERMOST: ContextVar[Scope | None] = ContextVar("scope", default=None)


@contextmanager
def owned() -> Iterator[Scope]:
    """Release, on exit, whatever ``pin``/``scratch_dir`` made inside."""
    with Scope() as scope:
        try:
            yield scope
        finally:
            scope.release()


def pin(df: DataFrame) -> DataFrame:
    """``df.persist()`` owned by the innermost open scope. Outside any
    scope it is a plain persist that the caller owns (and unpersists)."""
    df = df.persist()
    if (scope := _INNERMOST.get()) is not None:
        scope.pins.append(df)
    return df


def scratch_dir(prefix: str, dir: str | os.PathLike[str] | None = None) -> str:  # noqa: A002
    """``tempfile.mkdtemp`` owned like a ``pin``."""
    path = tempfile.mkdtemp(prefix=prefix, dir=dir)
    if (scope := _INNERMOST.get()) is not None:
        scope.dirs.append(path)
    return path
