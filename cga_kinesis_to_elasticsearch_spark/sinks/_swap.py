"""Crash-safe partition-directory swap protocol shared by every
maintained-state sink. :func:`write_swapped` (one directory),
:func:`write_partitions_swapped` (one ``partitionBy`` job, many
directories) and :func:`write_keyed` (one ``partitionBy`` job whose
files replace those of an earlier attempt with the same key) are the
only ways into it: no other sink module stages a ``.tmp-`` dir or
calls the swap steps itself.

Protocol per partition ``<part>`` (e.g. ``day=2024-01-03``) under a
root directory:

1. write the new content to ``.tmp-<part>``;
2. rename ``<part>`` -> ``.old-<part>`` (if it exists);
3. rename ``.tmp-<part>`` -> ``<part>``;
4. remove ``.old-<part>``.

Names are DETERMINISTIC, so a crash at any step leaves a state the
next run can classify and repair via :func:`recover_and_sweep`:

- ``.tmp-<part>`` present: the write never became visible. Safe to
  drop — foreachBatch sinks run at-least-once, so the batch that
  produced it is replayed against the last durable state. The shared
  partitioned staging dir (``.tmp-rewrite``) is swept the same way.
- ``.old-<part>`` present, ``<part>`` present: crash between steps
  3 and 4 — the old dir is superseded; drop it.
- ``.old-<part>`` present, ``<part>`` missing: crash between steps
  2 and 3 — the old dir IS the last durable state; rename it back.

A keyed commit (:func:`write_keyed`) swaps files, not directories: it
stages in ``.tmp-<key>``, removes every file of an earlier attempt
with the same key, then renames the staged files in as
``<key>~<name>``. A crash leaves the ``.tmp-`` dir, swept as above, or
part of the attempt's files, which the replayed attempt removes before
it renames its own.

Single-writer assumption: streaming foreachBatch executes batches
sequentially, so recovery at refresh start never races a concurrent
swap. (At 100 TB scale on an object store this protocol maps onto a
commit-marker scheme — rename is the local-FS stand-in for an atomic
pointer flip.)
"""

from __future__ import annotations

import shutil
from pathlib import Path
from urllib.parse import unquote

from pyspark.sql import DataFrame

__all__ = [
    "recover_and_sweep",
    "swap_in",
    "part_paths",
    "decode_part_name",
    "promote_staged",
    "write_swapped",
    "write_partitions_swapped",
    "write_keyed",
    "file_key",
]

_TMP = ".tmp-"
_OLD = ".old-"
# the one staging dir of a partitioned write, under the table root;
# the _TMP prefix makes recover_and_sweep clear it after a crash
_STAGING = f"{_TMP}rewrite"
# separates a keyed commit's attempt key from the writer's file name
_KEY_SEP = "~"


def part_paths(root: Path, part: str) -> tuple[Path, Path, Path]:
    """(final, tmp, old) paths for a partition directory name."""
    return root / part, root / f"{_TMP}{part}", root / f"{_OLD}{part}"


def recover_and_sweep(root: Path) -> list[str]:
    """Repair any interrupted swap under ``root``; returns the names of
    partitions whose previous state was renamed back into place."""
    recovered: list[str] = []
    if not root.exists():
        return recovered
    for p in root.glob(f"{_TMP}*"):
        shutil.rmtree(p, ignore_errors=True)
    for p in root.glob(f"{_OLD}*"):
        final = root / p.name[len(_OLD):]
        if final.exists():
            shutil.rmtree(p, ignore_errors=True)
        else:
            p.rename(final)
            recovered.append(final.name)
    return recovered


def decode_part_name(name: str) -> tuple[str, str | None]:
    """``col=escaped`` directory name -> ``(col, raw value)``.

    Spark's ``partitionBy`` %XX-escapes special characters (':', '#',
    '%', ...) in partition values (Hive ``escapePathName``), and writes
    NULL as ``__HIVE_DEFAULT_PARTITION__`` — so dir names must be
    DECODED to compare against collected column values, never
    re-encoded by string formatting."""
    col, _, raw = name.partition("=")
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return col, None
    return col, unquote(raw)


def promote_staged(
    root: Path,
    tmp_root: Path,
    part_col: str,
    expected: dict[str | None, bool] | None = None,
) -> list[str]:
    """Promote every staged partition dir under ``tmp_root`` into
    ``root`` via the swap protocol; returns the promoted dir names.
    Touched partition VALUES are matched against the dir names Spark
    actually wrote — reconstructing ``f"{col}={value}"`` is unsafe
    because ``partitionBy`` escapes special characters.

    ``expected`` (None = every staged dir) maps each touched
    partition's raw string value to whether the rewrite may
    legitimately have staged NOTHING for it (True = every row of the
    partition was deleted, swap in an empty dir). Any other mismatch —
    a touched partition with surviving rows but no staged dir, or a
    staged dir for an un-touched value — raises instead of silently
    swapping in an empty (data-losing) partition."""
    prefix = f"{part_col}="
    staged: dict[str | None, str] = {}
    for p in sorted(tmp_root.iterdir()):
        if p.is_dir() and p.name.startswith(prefix):
            staged[decode_part_name(p.name)[1]] = p.name
    if expected is None:
        expected = dict.fromkeys(staged, False)
    orig: dict[str | None, str] = {}
    for p in root.iterdir():
        if p.is_dir() and p.name.startswith(prefix):
            orig[decode_part_name(p.name)[1]] = p.name
    promoted: list[str] = []
    for val, may_be_empty in expected.items():
        name = staged.pop(val, None)
        if name is None and not may_be_empty:
            raise RuntimeError(
                "partition rewrite staged no directory for touched "
                f"partition {part_col}={val!r} which still has "
                "surviving rows — refusing to swap in an empty dir"
            )
        if name is None:
            name = orig.get(val)
            if name is None:
                raise RuntimeError(
                    "fully-deleted touched partition "
                    f"{part_col}={val!r} has no original directory under "
                    f"{root} — partition listing out of sync with the scan"
                )
            _, tmp, _ = part_paths(root, name)
            tmp.mkdir()
        else:
            _, tmp, _ = part_paths(root, name)
            (tmp_root / name).rename(tmp)
        swap_in(root, name)
        promoted.append(name)
    if staged:
        raise RuntimeError(
            "partition rewrite staged directories for values the "
            f"match scan never touched: {sorted(staged.values())}"
        )
    return promoted


def swap_in(root: Path, part: str) -> None:
    """Steps 2-4: atomically promote ``.tmp-<part>`` to ``<part>``.

    Caller must have written ``.tmp-<part>`` already (step 1)."""
    final, tmp, old = part_paths(root, part)
    if old.exists():  # stale survivor of a crash after step 3
        shutil.rmtree(old)
    if final.exists():
        final.rename(old)
    tmp.rename(final)
    if old.exists():
        shutil.rmtree(old)


def write_swapped(df: DataFrame, root: Path, part: str) -> Path:
    """Steps 1-4 for one directory: ONE Spark job writes ``df`` to
    ``.tmp-<part>``, which is then swapped in as ``<part>``. Commit
    markers are dropped, so the dir holds data files only, like a
    ``partitionBy`` partition. Returns the final path."""
    final, tmp, _ = part_paths(root, part)
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.parquet(str(tmp))
    for marker in tmp.glob("_*"):
        marker.unlink()
    swap_in(root, part)
    return final


def write_partitions_swapped(
    df: DataFrame,
    root: Path,
    part_col: str,
    expected: dict[str | None, bool] | None = None,
) -> list[str]:
    """Steps 1-4 for many directories: ONE ``partitionBy(part_col)``
    job writes ``df`` into the staging dir, every staged dir is
    promoted (:func:`promote_staged`, with its strict check when the
    caller passes the touched values as ``expected``), then the
    staging dir is removed. Returns the promoted dir names. A crash
    anywhere leaves only ``.tmp-`` dirs or a state ``swap_in``'s
    deterministic names let :func:`recover_and_sweep` repair."""
    staging = root / _STAGING
    shutil.rmtree(staging, ignore_errors=True)
    df.write.partitionBy(part_col).parquet(str(staging))
    promoted = promote_staged(root, staging, part_col, expected)
    shutil.rmtree(staging, ignore_errors=True)
    return promoted


def file_key(name: str) -> str | None:
    """The attempt key a data file was committed under by
    :func:`write_keyed`, or None for a file written any other way."""
    key, sep, _ = name.partition(_KEY_SEP)
    return key if sep else None


def write_keyed(df: DataFrame, root: Path, part_col: str, key: str) -> None:
    """Keyed commit: ONE ``partitionBy(part_col)`` job writes ``df``
    into ``.tmp-<key>``; every file an earlier attempt committed under
    ``key`` is removed from every ``<part_col>=`` dir under ``root``
    (not only the dirs this attempt wrote: a replay may route
    differently, or stage nothing); then each staged file is renamed
    into its dir as ``<key>~<name>``. Files of other keys are never
    touched, so a replayed attempt replaces exactly its own output.
    ``key`` holds no ``~`` or ``/``."""
    staging = root / f"{_TMP}{key}"
    shutil.rmtree(staging, ignore_errors=True)
    df.write.partitionBy(part_col).parquet(str(staging))
    prefix, mark = f"{part_col}=", f"{key}{_KEY_SEP}"
    for d in root.iterdir():
        if d.is_dir() and d.name.startswith(prefix):
            for f in d.iterdir():
                if f.name.startswith(mark):
                    f.unlink()
    for d in staging.iterdir():
        if not (d.is_dir() and d.name.startswith(prefix)):
            continue
        (root / d.name).mkdir(exist_ok=True)
        for f in d.iterdir():
            # checksum and marker files stay behind with the staging dir
            if not f.name.startswith((".", "_")):
                f.rename(root / d.name / f"{mark}{f.name}")
    shutil.rmtree(staging, ignore_errors=True)
