"""Dump the optimized logical plans of the dataset-diff frames, ids normalised.

Usage: python tools/dump_diff_plans.py <out_dir> <suffix> [work_dir]

Writes ``<out_dir>/<frame>_<suffix>.txt`` for:

- ``j3_diff`` — the battery query, over ``perfbench/data/sf0.01``;
- ``fitbitdailydata_{joined,left_only,right_only,mismatched,column_stats}``
  — ``compare_datasets`` over two outputs of the 61-column
  FitbitDailyData registry type, written by ``DatasetPipeline``;
- ``generation_changes`` — the change feed over the two generations of
  ``tests/test_round5_ops.py::TestGenerationChanges``.

Expression ids (``#123``) become ``#N`` and the work directory becomes
``<work>``, so two dumps of the same plan compare equal with ``diff``
whatever session produced them. Run it once per commit with different
suffixes and diff the pairs.
"""

from __future__ import annotations

import os
import re
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from recover_spark.operators import compare_datasets  # noqa: E402
from recover_spark.plans.pipeline import DatasetPipeline  # noqa: E402
from recover_spark.schemas import load_default_registry  # noqa: E402
from recover_spark.session import get_spark  # noqa: E402
from recover_spark.sources.atomic import (  # noqa: E402
    generation_changes,
    write_dataset_atomic,
)

_ID = re.compile(r"#\d+")


def optimized(df, work: str) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return _ID.sub("#N", plan).replace(work, "<work>")


def wide_outputs(spark, work: str):
    """Two FitbitDailyData outputs that share one key and differ in a
    value, so every diff frame has rows."""
    sp = load_default_registry()["FitbitDailyData"]
    schema = sp.struct_type()
    roots = []
    for side, steps in (("a", "100"), ("b", "200")):
        rows = []
        for pid in ("p1", side):
            row = {f.name: None for f in schema.fields}
            row.update(ParticipantIdentifier=pid, Date="2024-01-01",
                       Steps=steps, cohort="adults_v1")
            rows.append(row)
        df = spark.createDataFrame(
            [tuple(r[f.name] for f in schema.fields) for r in rows], schema)
        root = f"{work}/wide_{side}"
        DatasetPipeline(sp).run(df, root)
        roots.append(spark.read.parquet(f"{root}/dataset={sp.name}"))
    return sp, roots


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    work = os.path.abspath(sys.argv[3] if len(sys.argv) > 3 else ".dump_diff_plans")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_diff_plans")
    spark.sparkContext.setLogLevel("ERROR")
    frames = {
        "j3_diff": entrymod.queries()["j3_diff"](
            spark, os.path.join(REPO, "perfbench", "data", "sf0.01")),
    }

    sp, (left, right) = wide_outputs(spark, work)
    res = compare_datasets(left, right, sp.index_fields)
    for name in ("joined", "left_only", "right_only", "mismatched", "column_stats"):
        frames[f"{sp.name}_{name}"] = getattr(res, name)

    path = f"{work}/gen"
    write_dataset_atomic(spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, tag string, v double"), path, run_id="r1")
    write_dataset_atomic(spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 25.0), (4, "d", 40.0)],
        "id long, tag string, v double"), path, run_id="r2")
    frames["generation_changes"] = generation_changes(spark, path, ["id"])

    for name, df in frames.items():
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(optimized(df, work) + "\n")
        print(f"ok   {name}: rows={df.count()}", file=sys.stderr)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
