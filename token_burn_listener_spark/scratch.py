"""Scratch-dir materialization for derived fixture copies.

Derived inputs (JSON/CSV copies of fixtures, streaming replay dirs,
bucketed layouts, the event feed, the media fixture) are written once per
(full sf_dir path, tag) and reused. ``materialize`` is the only code that
builds a scratch copy and decides when one is complete. Two hazards are
handled here (they bit round 1's mode('ignore') approach — see ADVICE.md):

- **Partial writes**: a crashed writer must not leave a half-dir that later
  reads silently consume. We write to a unique temp dir, write the
  ``_SUCCESS`` fence ourselves once the write returned (a Hadoop committer
  can be set not to write one), and atomically ``os.rename`` the dir into
  place; a dir is only ever visible complete, and a dir without the fence
  is rebuilt.
- **Path collisions**: scratch is keyed on a hash of the absolute sf_dir, so
  two fixture trees with the same basename never share a cache entry.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame

SCRATCH_ROOT = "/tmp/tbls_scratch"


def scratch_dir(sf_dir: str, tag: str, source: str | None = None) -> str:
    """Deterministic scratch path keyed on the FULL fixture path.

    ``source`` (a file the derived copy is built from) folds that file's
    (mtime_ns, size) into the key, so regenerated fixtures at the same path
    invalidate the cache instead of silently reusing stale copies.
    """
    key = os.path.abspath(sf_dir)
    if source is not None:
        st = os.stat(source)
        key += f"|{source}|{st.st_mtime_ns}|{st.st_size}"
    h = hashlib.sha1(key.encode()).hexdigest()[:12]
    return f"{SCRATCH_ROOT}/{h}/{tag}"


# This process's run dirs, relative to SCRATCH_ROOT. They share one
# parent, so a process can remove its own runs (the test session and
# tools/check_parity.py do when they end) and no other process's.
PROCESS_RUNS = f"runs/{os.getpid()}-{uuid.uuid4().hex[:6]}"


def fresh_run_dir(tag: str) -> str:
    """Unique per-invocation dir for streaming checkpoints/targets."""
    return f"{SCRATCH_ROOT}/{PROCESS_RUNS}/{tag}-{uuid.uuid4().hex[:10]}"


def materialize(
    df: DataFrame | None,
    final_dir: str,
    write: Callable[[DataFrame | None, str], None],
) -> str:
    """Write ``df`` to ``final_dir`` exactly once, atomically.

    ``write(df, path)`` performs the actual write into the temp dir
    ``path`` (a copy generated without a DataFrame passes ``df=None``).
    A prior materialization fenced by ``_SUCCESS`` is reused; anything
    else is rebuilt from a temp dir + fence + rename.
    """
    if os.path.exists(os.path.join(final_dir, "_SUCCESS")):
        return final_dir
    if os.path.exists(final_dir):
        # Partial dir from a crashed writer: rebuild, never silently reuse.
        shutil.rmtree(final_dir)
    os.makedirs(os.path.dirname(final_dir), exist_ok=True)
    tmp = f"{final_dir}.tmp-{uuid.uuid4().hex[:8]}"
    write(df, tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    try:
        os.rename(tmp, final_dir)
    except OSError:
        # Lost a race with a concurrent writer: their complete dir wins.
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(final_dir, "_SUCCESS")):
            raise
    return final_dir
