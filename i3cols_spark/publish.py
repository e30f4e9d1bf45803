"""Temp-then-swap publishing of a directory — the one protocol behind
every directory the engine writes whole.  Its users:

- the write-once caches: the derived layout mirrors
  (``sources/mirrors.write_once``) and the driver JVM's class-data-
  sharing archive (``jvm_archive``, which builds at start and publishes
  at exit, so it calls the three steps itself);
- the dataset sinks, through ``sink``: parquet
  (``sources/ingest.write_columns``, and so ``combine``, ``compact``,
  ``compat.save``/``compress``/``decompress`` and the CLI's
  ``extract``/``import-npy``/``sql --out``) and npy
  (``sources/npy_cols.write_npy_columns``, and so ``export-npy``).

The steps (``building`` runs them in order):

- temp: every build writes into its own unique sibling
  ``<out>.tmp-<pid>-<uuid>`` (``tmp_name``), so a build never sees,
  appends to or leaves behind another build's files, and a build that
  raises leaves ``out`` as it was;
- publish: ``publish`` moves a stale ``out`` aside (under the same
  naming), renames the finished temp dir into place and deletes the
  old copy; of two concurrent builders the later one discards its copy
  once it sees that ``out`` is already current;
- reclaim: a build killed outright (SIGKILL, OOM) cannot clean up, so
  every build first removes, with ``reclaim``, the siblings whose
  ``<pid>`` names no live process.  Siblings of live processes — this
  one's other threads included — and legacy ``<out>.tmp-<uuid>`` names
  are left alone.

Paths are POSIX filesystem paths (``os.replace`` is the swap), and
every builder of ``out`` runs on ONE host: a pid is only meaningful
there, and a live build from another host whose pid is free here would
be removed.
"""

from __future__ import annotations

import errno
import os
import shutil
import uuid
from collections.abc import Callable, Iterator
from contextlib import AbstractContextManager, contextmanager


def tmp_name(out: str) -> str:
    """A fresh private sibling name of ``out`` for this process."""
    return f"{out}.tmp-{os.getpid()}-{uuid.uuid4().hex}"


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by another user
        return True
    return True


def reclaim(out: str) -> None:
    """Remove the temp/aside siblings of ``out`` left by dead builders."""
    parent, prefix = os.path.split(out)
    prefix += ".tmp-"
    try:
        names = os.listdir(parent)
    except FileNotFoundError:
        return
    for n in names:
        pid, sep, _ = n.removeprefix(prefix).partition("-")
        if n.startswith(prefix) and sep and pid.isdigit() and not _pid_alive(int(pid)):
            shutil.rmtree(os.path.join(parent, n), ignore_errors=True)


def publish(tmp: str, out: str, current: Callable[[str], bool]) -> None:
    """Swap the finished build ``tmp`` into ``out``, or discard it when
    a concurrent builder has already published an ``out`` for which
    ``current(out)`` holds."""
    while not current(out):
        aside = tmp_name(out)
        try:
            os.replace(out, aside)
        except FileNotFoundError:
            aside = None
        try:
            os.replace(tmp, out)
            return
        except OSError as e:
            # ENOTEMPTY/EEXIST: another builder published between our
            # two renames — re-check what it published
            if e.errno not in (errno.ENOTEMPTY, errno.EEXIST):
                raise
        finally:
            if aside:
                shutil.rmtree(aside, ignore_errors=True)
    shutil.rmtree(tmp)


@contextmanager
def building(out: str, current: Callable[[str], bool]) -> Iterator[str]:
    """Reclaim, then yield a fresh private sibling of ``out`` for the
    body to create and fill, then ``publish`` it; a body (or publish)
    that raises removes the sibling and leaves ``out`` as it was."""
    reclaim(out)
    tmp = tmp_name(out)
    try:
        yield tmp
        publish(tmp, out, current)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def sink(out: str, overwrite: bool) -> AbstractContextManager[str]:
    """``building`` for a dataset sink: the build replaces ``out``, or,
    unless ``overwrite``, raises FileExistsError when ``out`` exists —
    checked before the build and again at publish."""

    def current(o: str) -> bool:
        if not overwrite and os.path.exists(o):
            raise FileExistsError(errno.EEXIST, "dataset already exists", o)
        return False

    current(out)
    return building(out, current)
