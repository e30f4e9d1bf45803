"""Temp-then-swap publishing of a write-once directory — the one
protocol behind every write-once artifact of the engine: the derived
layout mirrors (``sources/mirrors.write_once``) and the driver JVM's
class-data-sharing archive (``session``).

- temp: every build writes into its own unique sibling
  ``<out>.tmp-<pid>-<uuid>`` (``tmp_name``), so a build never sees,
  appends to or leaves behind another build's files;
- publish: ``publish`` moves a stale ``out`` aside (under the same
  naming), renames the finished temp dir into place and deletes the
  old copy; of two concurrent builders the later one discards its copy
  once it sees that ``out`` is already current;
- reclaim: a build killed outright (SIGKILL, OOM) cannot clean up, so
  every cache miss first removes, with ``reclaim``, the siblings whose
  ``<pid>`` names no live process.  Siblings of live processes — this
  one's other threads included — and legacy ``<out>.tmp-<uuid>`` names
  are left alone.  This assumes every builder of ``out`` runs on ONE
  host: a pid is only meaningful there, and a live build from another
  host whose pid is free here would be removed.
"""

from __future__ import annotations

import errno
import os
import shutil
import uuid
from collections.abc import Callable


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
