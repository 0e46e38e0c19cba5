"""The benchmark's two workloads.

Each workload prepares its inputs from the seed and warms up
(``setup``), runs one timed pass at a time (``run_pass``), ``PASSES`` of
them per run, and checks the outputs it kept (``check``). The ground
truth is computed in ``check``, after the timed passes, so it is neither
in ``setup_s`` nor in the passes' peak memory. A pass calls into the package's public
functions inside ``Tracer`` spans named after the layer they enter.

- ``weekly_export``: one week's delivery of two registry types through
  archive read, ``DatasetPipeline.run``, ``run_suite`` and
  ``compare_datasets`` against the previous week's output.
- ``analytics_mix``: one query per analytics family from
  ``__spark_entry__.queries()`` over a seeded permutation of the sf0.01
  tables in ``perfbench/data``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from functools import reduce

from perfbench import gen
from perfbench.tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class PassRecord:
    """What one timed pass measured."""

    wall_s: float = 0.0
    cpu_s: float = 0.0
    maintain_s: float = 0.0
    probe_s: float = 0.0
    input_bytes: int = 0
    written_bytes: int = 0
    space_amp: float = 0.0
    attempted: int = 0
    failed: list = field(default_factory=list)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                continue
    return total


def data_files(path: str) -> int:
    return sum(
        1
        for _b, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def report_failure(what: str) -> None:
    print(f"FAILED {what}", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


class Workload:
    name = ""
    # Timed passes per run, whatever their speed; the metrics are their
    # median. The first pass after warm-up is still slower than later ones.
    PASSES = 2

    def __init__(self, spark, seed: int, work: str, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer

    def setup(self) -> None:
        raise NotImplementedError

    def before_pass(self, i: int) -> None:
        """Untimed preparation of pass ``i``."""

    def run_pass(self, i: int, rec: PassRecord) -> None:
        """Run pass ``i``."""
        raise NotImplementedError

    def check(self) -> list[str]:
        """Names of outputs that differ from the ground truth."""
        raise NotImplementedError


# -- weekly_export ----------------------------------------------------------


def _suite(type_name: str) -> list[dict]:
    """Expectations run on each type's parent output table."""
    key = gen.record_key_field(gen.spec(type_name))
    common = [
        {"expectation_type": "expect_column_values_to_not_be_null",
         "kwargs": {"column": "ParticipantIdentifier"}},
        {"expectation_type": "expect_column_values_to_be_in_set",
         "kwargs": {"column": "cohort", "value_set": list(gen.COHORTS)}},
        {"expectation_type": "expect_column_value_lengths_to_be_between",
         "kwargs": {"column": "ParticipantIdentifier", "min_value": 8, "max_value": 8}},
        {"expectation_type": "expect_table_row_count_to_be_between",
         "kwargs": {"min_value": 1}},
    ]
    if key != "Date":
        common.append({"expectation_type": "expect_column_values_to_be_unique",
                       "kwargs": {"column": key}})
    measure = {
        "HealthKitV2Electrocardiogram": ("AverageHeartRate", 40, 180, 0.95),
        "FitbitDailyData": ("Steps", 0, 19000, 0.9),
    }[type_name]
    col, lo, hi, mostly = measure
    common.append({"expectation_type": "expect_column_values_to_be_between",
                   "kwargs": {"column": col, "min_value": lo, "max_value": hi,
                              "mostly": mostly}})
    return common


def expected_verdicts(suite: list[dict], cols: list[str], rows: list[tuple]) -> list[tuple]:
    """(type, column, success, element_count, unexpected_count) per
    expectation, by the suite's documented semantics."""
    out = []
    for exp in suite:
        kind, kw = exp["expectation_type"], exp["kwargs"]
        col = kw.get("column")
        vals = [r[cols.index(col)] for r in rows] if col else []
        n = len(rows)
        if kind == "expect_column_values_to_not_be_null":
            bad = sum(v is None for v in vals)
        elif kind == "expect_column_values_to_be_in_set":
            bad = sum(v is not None and v not in kw["value_set"] for v in vals)
        elif kind == "expect_column_value_lengths_to_be_between":
            bad = sum(v is not None and not kw["min_value"] <= len(v) <= kw["max_value"]
                      for v in vals)
        elif kind == "expect_column_values_to_be_unique":
            present = [v for v in vals if v is not None]
            n, bad = len(present), len(present) - len(set(present))
        elif kind == "expect_column_values_to_be_between":
            # non-numeric text casts to null, and nulls are not unexpected
            bad = sum(v is not None and not kw["min_value"] <= float(v) <= kw["max_value"]
                      for v in vals)
        else:  # expect_table_row_count_to_be_between
            bad = 0
        if kind == "expect_table_row_count_to_be_between":
            success = n >= kw["min_value"]
        else:
            success = n == 0 or (n - bad) / n >= float(kw.get("mostly", 1.0))
        out.append((kind, col, success, n, bad))
    return out


@dataclass
class _TypeInput:
    spec: object
    weeks: list  # the generated deliveries, the ground truth's input
    archives: list  # per week: (records archive, deleted archive or None)
    input_bytes: int


class WeeklyExport(Workload):
    name = "weekly_export"
    # Per type per week. The RECOVER delivery size is not published; a
    # 400k-record week takes 6 s in the pipeline alone (18.9 s cold), more
    # than a run of this benchmark may take, so the size is chosen to fit
    # the run's time budget. At this size the pass is driver-bound.
    RECORDS = 2000

    def setup(self) -> None:
        self.inputs: dict[str, _TypeInput] = {}
        self.results: list = []  # (pass, type, counts, verdicts, diff)
        for t in gen.WEEKLY_TYPES:
            sp = gen.spec(t)
            weeks = gen.weekly_deliveries(self.seed, t, self.RECORDS)
            archives, size = [], 0
            for w, d in enumerate(weeks):
                base = f"{self.work}/inputs/w{w}"
                os.makedirs(base, exist_ok=True)
                rec_zip, del_zip = f"{base}/{t}.zip", None
                size += gen.write_archive(rec_zip, t, d.records)
                if d.deleted:
                    del_zip = f"{base}/{t}_Deleted.zip"
                    size += gen.write_archive(del_zip, f"{t}_Deleted", d.deleted)
                archives.append((rec_zip, del_zip))
            self.inputs[t] = _TypeInput(sp, weeks, archives, size)
        # Warm-up: the previous week's run, which writes the output the
        # diff compares against.
        self.prev_root = f"{self.work}/out/prev"
        for t in gen.WEEKLY_TYPES:
            self._run_type(t, 1, self.prev_root, f"{self.work}/scratch/prev", "warm",
                           PassRecord())

    def _run_type(self, t: str, weeks: int, out_root: str, scratch: str,
                  run_id: str, rec: PassRecord):
        from recover_spark.operators import compare_datasets
        from recover_spark.plans.pipeline import DatasetPipeline
        from recover_spark.quality import run_suite
        from recover_spark.sources.archive import read_archive_ndjson

        spark, span = self.spark, self.tracer.span
        inp = self.inputs[t]
        sp = inp.spec
        t0 = time.time()
        with span("sources.read_archive_ndjson", run_id, type=t):
            schema = sp.struct_type()
            frames = [
                read_archive_ndjson(spark, recs, schema, f"{scratch}/{t}/w{w}")
                for w, (recs, _d) in enumerate(inp.archives[:weeks])
            ]
            df = reduce(lambda a, b: a.unionByName(b), frames)
            dels = [
                read_archive_ndjson(spark, d, gen.spec(f"{t}_Deleted").struct_type(),
                                    f"{scratch}/{t}_Deleted/w{w}")
                for w, (_r, d) in enumerate(inp.archives[:weeks]) if d
            ]
            deleted = reduce(lambda a, b: a.unionByName(b), dels) if dels else None
        with span("plans.DatasetPipeline.run", run_id, type=t) as s:
            result = DatasetPipeline(sp).run(df, out_root, deleted=deleted)
        s.extra["files_written"] = data_files(out_root + f"/dataset={sp.name}")
        t1 = time.time()
        with span("quality.run_suite", run_id, type=t):
            parent = spark.read.parquet(f"{out_root}/dataset={sp.name}")
            verdicts = run_suite(parent, {"expectations": _suite(t)})
        with span("operators.compare_datasets", run_id, type=t):
            prev = spark.read.parquet(f"{self.prev_root}/dataset={sp.name}")
            cmp = compare_datasets(parent, prev, sp.index_fields)
            diff = (cmp.left_only.count(), cmp.right_only.count(), cmp.mismatched.count())
        t2 = time.time()
        rec.maintain_s += t1 - t0
        rec.probe_s += t2 - t1
        got = [(v.expectation_type, v.column, v.success, v.element_count,
                v.unexpected_count) for v in verdicts]
        return result.counts, got, diff

    def before_pass(self, i: int) -> None:
        shutil.rmtree(f"{self.work}/out/p{i - 1}", ignore_errors=True)
        shutil.rmtree(f"{self.work}/scratch", ignore_errors=True)

    def run_pass(self, i: int, rec: PassRecord) -> None:
        out_root = f"{self.work}/out/p{i}"
        for t in gen.WEEKLY_TYPES:
            rec.attempted += 1
            rec.input_bytes += self.inputs[t].input_bytes
            try:
                got = self._run_type(
                    t, 2, out_root, f"{self.work}/scratch/p{i}", f"p{i}", rec)
            except Exception:  # keep measuring the other types
                report_failure(f"{self.name} {t}")
                rec.failed.append(t)
                continue
            if i >= 0:
                self.results.append((i, t, *got))
        rec.space_amp = dir_bytes(out_root) / rec.input_bytes
        self.last_out = out_root

    def check(self) -> list[str]:
        """Each timed pass's observed counts, suite verdicts and diff
        counts, and the last pass's output tables, against the ground
        truth."""
        from pyspark.errors import AnalysisException

        bad, truth = [], {}
        for t, inp in self.inputs.items():
            sp, weeks = inp.spec, inp.weeks
            prev = gen.output_tables(sp, gen.latest_state(sp, weeks[:1]))[sp.name]
            cur_state = gen.latest_state(sp, weeks)
            tables = gen.output_tables(sp, cur_state)
            cols, rows = tables[sp.name]
            counts = {"READ": sum(len(d.records) for d in weeks),
                      "DROP_DUPLICATES": len({tuple(r[f] for f in sp.index_fields)
                                              for d in weeks for r in d.records})}
            if t in gen.DELETED_TYPES:
                counts["DROP_DELETED_SAMPLES"] = len(cur_state)
            truth[t] = (counts, expected_verdicts(_suite(t), cols, rows),
                        _diff_counts(sp, cols, rows, prev), tables)
        for i, t, *got in self.results:
            wrong = [what for what, g, want in zip(
                ("observed counts", "suite verdicts", "diff counts"), got, truth[t])
                if g != want]
            if wrong:
                bad.append(f"p{i}:{t} {wrong}")
        for t, (*_want, tables) in truth.items():
            for table, (cols, rows) in tables.items():
                try:
                    df = self.spark.read.parquet(f"{self.last_out}/dataset={table}")
                except AnalysisException:  # the pass did not write it
                    bad.append(f"{t}:{table}")
                    continue
                if not same_table(df.columns, [tuple(r) for r in df.collect()], cols, rows):
                    bad.append(f"{t}:{table}")
        return bad


def _diff_counts(sp, cols: list, rows: list, prev: tuple) -> tuple:
    key_at = [cols.index(f) for f in sp.index_fields]
    cur = {tuple(r[i] for i in key_at): r for r in rows}
    pcols, prows = prev
    pkey_at = [pcols.index(f) for f in sp.index_fields]
    old = {tuple(r[i] for i in pkey_at): r for r in prows}
    both = cur.keys() & old.keys()
    return (len(cur.keys() - old.keys()), len(old.keys() - cur.keys()),
            sum(cur[k] != old[k] for k in both))


def same_table(got_cols, got_rows, want_cols, want_rows) -> bool:
    """Row count, column names and order-insensitive value hash, with the
    repository's correctness-gate normalization."""
    from check_correctness import table_hash

    if len(got_rows) != len(want_rows) or sorted(got_cols) != sorted(want_cols):
        return False
    return table_hash(got_rows, list(got_cols)) == table_hash(want_rows, list(want_cols))


# -- analytics_mix ----------------------------------------------------------

# One query per family: (query, family, lifecycle). A lifecycle query
# builds state inside its builder (construct) and returns a probe frame.
QUERIES = (
    ("dedup_cosine_probe", "ops.text_index", True),
    ("graph_pagerank", "ops.graph", False),
    ("v18_drift_cvm", "quality.drift", False),
    ("stream_calibration_matview", "streaming.matview", True),
)
TABLES = ("customer", "documents", "embeddings", "events", "lineitem", "orders")
DATA = os.path.join(HERE, "data", "sf0.01")


def permute_tables(seed: int, out_dir: str) -> None:
    """Copy the sf0.01 tables with a seeded row order and file split.
    Content is unchanged, so every query's result must be too."""
    import numpy as np
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    for t in TABLES:
        table = pq.read_table(f"{DATA}/{t}.parquet")
        table = table.take(rng.permutation(table.num_rows))
        # two files split at a seeded row: the same file count for every
        # seed keeps the number of scan tasks equal across seeds
        cut = int(rng.integers(table.num_rows // 4, 3 * table.num_rows // 4))
        os.makedirs(f"{out_dir}/{t}.parquet", exist_ok=True)
        for j, (lo, hi) in enumerate(((0, cut), (cut, table.num_rows))):
            pq.write_table(table.slice(lo, hi - lo), f"{out_dir}/{t}.parquet/part-{j}.parquet")


class AnalyticsMix(Workload):
    name = "analytics_mix"
    # One untimed pass: it runs cold (about three times as long as a warm
    # one) and keeps the rows the check compares with the oracle.
    WARM = 1

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.base = f"{self.work}/data/base"
        permute_tables(self.seed, self.base)
        self.rows: dict[str, tuple] = {}
        self.counts: dict[str, list] = {}
        # every pass, warm-up too, gets its own copy of the input because
        # builders cache lifecycle state per data directory
        for w in range(-self.WARM, 0):
            self.before_pass(w)
            self.run_pass(w, PassRecord())

    def _dir(self, i: int) -> str:
        return f"{self.work}/data/p{i}"

    def before_pass(self, i: int) -> None:
        shutil.copytree(self.base, self._dir(i))
        self.state_before = _artifact_bytes(self.work)

    def run_pass(self, i: int, rec: PassRecord) -> bool:
        from bench import _release_pinned_state

        spark, span, d = self.spark, self.tracer.span, self._dir(i)
        run_id = f"p{i}"
        rec.input_bytes = dir_bytes(d)
        for name, family, lifecycle in QUERIES:
            rec.attempted += 1
            first, second = ("construct", "probe") if lifecycle else ("build", "exec")
            try:
                t0 = time.time()
                with span(family, run_id, query=name, phase=first):
                    df = self.queries[name](spark, d)
                t1 = time.time()
                with span(family, run_id, query=name, phase=second):
                    if i == -self.WARM:
                        # the first warm-up pass keeps the rows the check
                        # compares with the oracle; timed passes count
                        rows = [tuple(r) for r in df.collect()]
                        self.rows[name] = (df.columns, rows)
                    else:
                        n = df.count()
                t2 = time.time()
                if i >= 0:
                    self.counts.setdefault(name, []).append(n)
            except Exception:
                report_failure(f"{self.name} {name}")
                rec.failed.append(name)
                continue
            finally:
                _release_pinned_state(spark)
            if lifecycle:
                rec.maintain_s += t1 - t0
                rec.probe_s += t2 - t1
            else:
                rec.probe_s += t2 - t0
        rec.space_amp = (_artifact_bytes(self.work) - self.state_before) / rec.input_bytes

    def check(self) -> list[str]:
        """Each query's rows against its DuckDB oracle on the same input,
        and each timed pass's count against those rows."""
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.base}/{t}.parquet/*.parquet')")
            bad = []
            for name, _family, _life in QUERIES:
                if name not in self.rows:
                    bad.append(name)  # failed in the warm-up pass
                    continue
                res = con.execute(oracles[name])
                ocols = [c[0] for c in res.description]
                cols, rows = self.rows[name]
                if not same_table(cols, rows, ocols, [tuple(r) for r in res.fetchall()]):
                    bad.append(name)
                elif any(n != len(rows) for n in self.counts.get(name, ())):
                    bad.append(f"{name} count")
            return bad
        finally:
            con.close()


def _artifact_bytes(work: str) -> int:
    """Bytes the queries leave behind: lifecycle state and temp dirs."""
    return dir_bytes(f"{work}/spark-warehouse") + dir_bytes(f"{work}/tmp")


WORKLOADS = {w.name: w for w in (WeeklyExport, AnalyticsMix)}
