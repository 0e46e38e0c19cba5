"""Atomic dataset replace — generation directories + pointer swap.

The reference replaces a dataset by copying the old output to an
archive prefix and then deleting/rewriting in place
(json_to_parquet.py:348-366): a reader concurrent with the weekly rerun
can observe a half-deleted or half-written dataset.  SURVEY.md §7's
watch-list calls for write-to-temp-then-swap; this module goes one step
stronger, because even a rename pair (dataset -> archive, staging ->
dataset) has a window with NO live dataset.

Layout under the dataset root::

    root/
      _CURRENT            <- one line: name of the live generation dir
      gen-00000001/       <- complete parquet dataset (hive-partitioned)
      gen-00000002/
      .staging-<run_id>/  <- in-flight write, invisible to readers

Protocol (every step crash-safe):

1. write the new generation into ``.staging-<run_id>`` — readers never
   resolve staging dirs, so a torn write is invisible;
2. rename staging -> ``gen-<seq>`` — a complete but not-yet-live
   generation; a crash here leaves it unreferenced (pruned later);
3. promote by writing ``_CURRENT`` via write-temp + ``os.rename`` —
   the POSIX atomic-rename guarantee means every reader sees either
   the old pointer or the new pointer, never a partial dataset;
4. prune generations beyond ``keep_generations`` (never the live one)
   — the kept tail IS the archive (K5 parity: the previous generation
   remains readable after a replace, addressable by name).

On an object store the pointer file becomes a manifest object and the
renames become manifest commits (the Iceberg/Delta pattern); the
local-filesystem implementation keeps the same reader contract.

Citations: reference copy-then-delete window at
src/glue/jobs/json_to_parquet.py:348-366 (archive_existing_datasets →
write), the defect this replaces rather than mirrors.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from recover_spark.sources.writers import DEFAULT_RECORDS_PER_FILE

_POINTER = "_CURRENT"
_GEN_PREFIX = "gen-"
_STAGING_PREFIX = ".staging-"
_COMMIT_META = "_commit.json"


class CrashInjected(RuntimeError):
    """Raised by the test-only fail-point hook."""


def _check_fail(fail_point: str | None, here: str) -> None:
    if fail_point == here:
        raise CrashInjected(here)


def current_generation(path: str) -> str | None:
    """Resolve the live generation dir name, or None if no dataset."""
    pointer = Path(path) / _POINTER
    try:
        name = pointer.read_text().strip()
    except FileNotFoundError:
        return None
    return name or None


def list_generations(path: str) -> list[str]:
    """All complete generation dir names, oldest first."""
    root = Path(path)
    if not root.exists():
        return []
    return sorted(
        p.name
        for p in root.iterdir()
        if p.is_dir() and p.name.startswith(_GEN_PREFIX)
    )


def generation_commit_ts(path: str, generation: str) -> float:
    """Commit timestamp of a generation: the ``_commit.json`` the
    writer staged with the data (atomic with the generation — it rides
    the same rename), falling back to the directory mtime for
    generations written before the metadata existed."""
    import json as _json

    gen_dir = Path(path) / generation
    meta = gen_dir / _COMMIT_META
    try:
        return float(_json.loads(meta.read_text())["commit_ts"])
    except (FileNotFoundError, KeyError, ValueError):
        return gen_dir.stat().st_mtime


def generation_asof(path: str, ts: float) -> str:
    """Resolve the generation that was live AT ``ts`` (unix seconds):
    the newest generation whose commit timestamp is <= ts — Delta-style
    timestamp time travel over the generation archive.  Raises if the
    dataset did not exist yet at ``ts`` or was never written."""
    candidates = [
        (generation_commit_ts(path, g), g) for g in list_generations(path)
    ]
    eligible = sorted(c for c in candidates if c[0] <= ts)
    if not eligible:
        raise FileNotFoundError(
            f"no generation under {path!r} committed at or before {ts}"
            + (
                " (dataset did not exist yet)"
                if candidates
                else " (no generations at all)"
            )
        )
    return eligible[-1][1]


def read_dataset(
    spark: SparkSession,
    path: str,
    generation: str | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Read the live generation, a named archived one, or the one live
    at a timestamp (``as_of``, unix seconds — Delta-style time
    travel; the retained generation tail is the queryable history).

    Readers resolve the pointer once and then scan an immutable
    directory — a replace running concurrently can at worst make this
    reader one generation stale, never torn.
    """
    if generation is not None and as_of is not None:
        raise ValueError("pass generation= or as_of=, not both")
    if as_of is not None:
        generation = generation_asof(path, as_of)
    gen = generation or current_generation(path)
    if gen is None:
        raise FileNotFoundError(f"no live generation under {path!r}")
    return spark.read.parquet(str(Path(path) / gen))


def write_dataset_atomic(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    records_per_file: int = DEFAULT_RECORDS_PER_FILE,
    run_id: str = "run",
    keep_generations: int = 2,
    commit_ts: float | None = None,
    _fail_point: str | None = None,
) -> str:
    """Replace the dataset with ``df`` atomically; returns the new
    generation name.

    ``keep_generations`` previous generations stay on disk as the
    archive.  Each generation carries a ``_commit.json`` (written into
    staging, so it rides the same atomic rename) recording
    ``commit_ts`` — the timestamp ``read_dataset(as_of=...)`` resolves
    time travel against; pass an explicit ``commit_ts`` for
    deterministic tests, default is the wall clock.  ``_fail_point``
    is a TEST-ONLY hook naming a protocol step ("after-stage" |
    "after-rename" | "after-promote") at which a simulated crash is
    raised; production callers leave it None.

    Scale shape: the data write itself is the ordinary distributed
    partitioned-parquet write (staging dir is on the same filesystem,
    so executors write in place); the commit adds two metadata renames
    and one pointer write — O(1) driver-side work regardless of data
    size.
    """
    root = Path(path)
    root.mkdir(parents=True, exist_ok=True)

    # clear leftovers from a previous crashed run of the same run_id so
    # retries are idempotent
    staging = root / f"{_STAGING_PREFIX}{run_id}"
    if staging.exists():
        shutil.rmtree(staging)

    writer = df.write.mode("overwrite").option(
        "maxRecordsPerFile", records_per_file
    )
    parts = [p for p in partition_by if p in df.columns]
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(str(staging))
    import json as _json
    import time as _time

    (staging / _COMMIT_META).write_text(
        _json.dumps(
            {
                "commit_ts": float(
                    commit_ts if commit_ts is not None else _time.time()
                ),
                "run_id": run_id,
            },
            sort_keys=True,
        )
    )
    _check_fail(_fail_point, "after-stage")

    gens = list_generations(path)
    last = int(gens[-1][len(_GEN_PREFIX):]) if gens else 0
    gen_name = f"{_GEN_PREFIX}{last + 1:08d}"
    os.rename(staging, root / gen_name)
    _check_fail(_fail_point, "after-rename")

    # atomic promote: readers see the old pointer or the new pointer
    tmp = root / (_POINTER + ".tmp")
    tmp.write_text(gen_name + "\n")
    os.rename(tmp, root / _POINTER)
    _check_fail(_fail_point, "after-promote")

    _prune_generations(path, keep_generations)
    return gen_name


def _prune_generations(path: str, keep: int) -> None:
    """Delete generations older than the newest ``keep`` non-live ones;
    the live generation is never deleted regardless of age."""
    live = current_generation(path)
    gens = [g for g in list_generations(path) if g != live]
    for stale in gens[: max(0, len(gens) - keep)]:
        shutil.rmtree(Path(path) / stale)


def generation_changes(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    from_generation: str | None = None,
    to_generation: str | None = None,
) -> "DataFrame":
    """Change-data feed between two generations of an atomic dataset —
    the Delta/Iceberg CDF idea over the generation store: because every
    replace keeps the previous generation addressable (the archive IS
    the history), any two generations can be diffed after the fact,
    with no change tracking at write time.

    Emits one row per changed key with ``change_type`` in
    ``insert`` / ``update`` / ``delete`` and the NEW payload (null for
    deletes).  Defaults compare the previous generation to the live
    one.  Plan: one full-outer equi-join on the keys with null-safe
    payload comparison — no window, no collect; at 100 TB this is the
    same shuffle a weekly reconciliation (J3) already pays.
    """
    from pyspark.sql import functions as F

    from recover_spark.operators.diff import differs

    gens = list_generations(path)
    live = current_generation(path)
    if to_generation is None:
        to_generation = live
    if from_generation is None:
        prior = [g for g in gens if g < (to_generation or "")]
        if not prior:
            raise ValueError(
                f"no generation precedes {to_generation!r} under {path!r}"
            )
        from_generation = prior[-1]
    old = read_dataset(spark, path, from_generation)
    new = read_dataset(spark, path, to_generation)
    keys = list(keys)
    payload = [c for c in new.columns if c not in keys]
    shared = [c for c in payload if c in old.columns]

    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in shared],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *keys, *payload, F.lit(1).alias("__in_new")
    )
    cond = None
    for k in keys:
        c = n[k] == o[f"__ok_{k}"]
        cond = c if cond is None else cond & c
    j = n.join(o, cond, "full_outer")
    change = (
        F.when(o["__in_old"].isNull(), F.lit("insert"))
        .when(n["__in_new"].isNull(), F.lit("delete"))
        .when(F.expr(differs([(c, f"__o_{c}") for c in shared])), F.lit("update"))
    )
    out_keys = [
        F.coalesce(n[k], o[f"__ok_{k}"]).alias(k) for k in keys
    ]
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(F.col("change_type"), *out_keys, *[n[c] for c in payload])
    )
