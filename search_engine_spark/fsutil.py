"""The write side's one publish protocol: how a freshly written directory
or JSON file becomes visible, and how a crash in the middle is repaired.

Every index and store writer (``sink``, ``streaming.jobs``) publishes
through these three calls, and every rename in the package goes through
:func:`_rename` — so a test can substitute it to crash the process at
any rename point and prove that :func:`recover_dirs` plus a re-run
converges (``tests/test_crash_matrix.py``).

Protocol (single POSIX filesystem: ``rename(2)`` is atomic):

* a JSON file is written to ``<path>.tmp`` and renamed over ``<path>``;
* a directory ``X`` is replaced by moving it to ``X.old``, moving the
  fully written tmp dir to ``X``, then deleting ``X.old`` — so ``X``'s
  content is never durably absent: it is in ``X`` or in ``X.old``;
* recovery applies one rule per entry of a parent dir: ``X.old`` with
  ``X`` missing is renamed back (the swap died between its renames),
  ``X.old`` with ``X`` present is a discarded leftover, and tmp
  leftovers (``*.tmp``, ``_tmp*``, ``_compact*tmp``) are deleted — a
  tmp becomes visible only by a completed rename, so it is never
  canonical.
"""

from __future__ import annotations

import json
import os
import shutil


def _rename(src: str, dst: str) -> None:
    os.replace(src, dst)


def read_json(path: str):
    with open(path) as fh:
        return json.load(fh)


def atomic_write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    _rename(tmp, path)


def swap_dir(final: str, tmp: str) -> None:
    """Replace ``final`` with the directory ``tmp`` (with an empty
    directory when ``tmp`` was never created, e.g. an all-retired
    bucket's). ``final`` need not exist yet."""
    os.makedirs(os.path.dirname(final), exist_ok=True)
    old = final + ".old"
    shutil.rmtree(old, ignore_errors=True)
    had = os.path.isdir(final)
    if had:
        _rename(final, old)
    try:
        if os.path.isdir(tmp):
            _rename(tmp, final)
        else:
            os.makedirs(final, exist_ok=True)
    except BaseException:
        if had:
            _rename(old, final)  # roll back: final must always exist
        raise
    shutil.rmtree(old, ignore_errors=True)


def _is_tmp(name: str) -> bool:
    return (
        name.endswith(".tmp")
        or name.startswith("_tmp")
        or (name.startswith("_compact") and name.endswith("tmp"))
    )


def recover_dirs(parent: str) -> None:
    """Repair every interrupted swap and drop every tmp leftover directly
    under ``parent`` (a missing ``parent`` is a no-op)."""
    if not os.path.isdir(parent):
        return
    for name in sorted(os.listdir(parent)):
        path = os.path.join(parent, name)
        if name.endswith(".old"):
            final = path[: -len(".old")]
            if os.path.exists(final):
                shutil.rmtree(path)
            else:
                _rename(path, final)
        elif _is_tmp(name):
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
