"""The two workloads: what one pass calls, and how its outputs are checked.

A pass is a closed loop with one client: each operation is one call into
a public function of a package layer, issued after the previous one has
finished, and its output is fully materialized before the next starts.

- ``medallion``: ``jobs.bronze_to_silver`` for the 8 Olist tables,
  ``jobs.silver_to_gold_vendas.vendas_gold`` (a partitioned parquet
  write), ``bronze_to_silver`` again for the CDC batch of the 3 fact
  tables, then ``jobs.incremental_gold.incremental_vendas_update``.
- ``registry``: registry queries (``queries()``). Each
  result is written to Spark's ``noop`` sink with an ``observe`` row
  count riding along, never ``count()``, which lets Catalyst prune
  columns. The verifying pass collects every result and compares it
  with its DuckDB oracle; timed passes must reproduce the verified row
  count.

An operation that raises or fails its check counts as failed.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

import checks
import sparkstats
from olist import FACT_TABLES

from bootcamp_stackacademy_datalake_minio_airflow_spark.catalog import zone_path
from bootcamp_stackacademy_datalake_minio_airflow_spark.jobs import (
    bronze_to_silver,
    vendas_gold,
)
from bootcamp_stackacademy_datalake_minio_airflow_spark.jobs.incremental_gold import (
    incremental_vendas_update,
)
from bootcamp_stackacademy_datalake_minio_airflow_spark.schemas import OLIST_SCHEMAS
from bootcamp_stackacademy_datalake_minio_airflow_spark.sources import read_parquet
from bootcamp_stackacademy_datalake_minio_airflow_spark.suites import graph_shared

#: Registry operations of the ``registry`` workload: a driver-orchestrated
#: loop (BPE merges, one job per merge round), the reference's flagship
#: star join and the heaviest shuffle join (triangle counting).
#: Candidates left out, and why, are in NOTES.md.
REGISTRY = ("bpe_merge_table", "vendas_flagship", "graph_triangle_counts")
#: registry operations whose shuffle volume is reported on its own
HEAVY_JOINS = ("graph_triangle_counts",)
OLIST_TABLES = tuple(OLIST_SCHEMAS)
JOB_LAYERS = ("bronze_to_silver", "silver_to_gold_vendas", "incremental_gold")


@dataclass
class OpRecord:
    """One operation of one pass: its span and, in traced passes, what
    Spark did for it."""

    name: str
    layer: str
    start: float
    end: float
    ok: bool
    parts: dict[str, float] = field(default_factory=dict)
    stats: sparkstats.OpStats | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class PassRecord:
    index: int
    traced: bool
    start: float = 0.0
    end: float = 0.0
    excluded_s: float = 0.0
    ops: list[OpRecord] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        """Pass wall time without the untimed checks between operations."""
        return self.end - self.start - self.excluded_s


class Runner:
    """Runs passes of one workload against one Spark session.

    ``traced`` passes set a job group around each call and read the
    status store after it; untraced passes set nothing.
    """

    def __init__(self, spark, workload: str, inputs: dict, tmp_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.inputs = inputs
        self.tmp_dir = tmp_dir
        self.passes: list[PassRecord] = []
        self.attempted = 0
        self.failed = 0
        self.verified_rows: dict[str, int] = {}

    # -- shared plumbing --------------------------------------------------

    def _call(self, p: PassRecord, name: str, layer: str, fn):
        """Time ``fn(rec)`` as one operation; return (record, its result)."""
        group = f"lakebench-{p.index}-{name}"
        if p.traced:
            self.sc.setJobGroup(group, name)
        rec = OpRecord(name, layer, time.time(), 0.0, True)
        out = None
        try:
            out = fn(rec)
        except Exception:  # noqa: BLE001  # the run goes on; the op counts as failed
            rec.ok = False
            _log(f"operation {name} failed:\n{traceback.format_exc()}")
        rec.end = time.time()
        if p.traced:
            t0 = time.time()
            rec.stats = sparkstats.read_group(self.sc, group)
            p.excluded_s += time.time() - t0
        self.attempted += 1
        p.ops.append(rec)
        return rec, out

    def _check(self, p: PassRecord, rec: OpRecord, fn) -> None:
        """Run the untimed check ``fn`` (None when the output is right, else
        what is wrong) and fail the operation on a mismatch or an error."""
        if not rec.ok:
            return
        t0 = time.time()
        try:
            why = fn()
        except Exception:  # noqa: BLE001  # a check that cannot run fails the op
            why = traceback.format_exc()
        p.excluded_s += time.time() - t0
        if why:
            rec.ok = False
            _log(f"check failed for {rec.name}: {why}")

    def _untimed(self, p: PassRecord, fn):
        t0 = time.time()
        try:
            return fn()
        finally:
            p.excluded_s += time.time() - t0

    def run_pass(self, verify: bool, traced: bool) -> PassRecord:
        self.spark.catalog.clearCache()
        graph_shared.evict(self.spark, self.inputs.get("lake", ""))
        p = PassRecord(index=len(self.passes), traced=traced)
        p.start = time.time()
        if self.workload == "medallion":
            self._medallion_pass(p, verify)
        else:
            self._registry_pass(p, verify)
        p.end = time.time()
        self.failed += sum(not r.ok for r in p.ops)
        self.passes.append(p)
        return p

    # -- registry workloads ----------------------------------------------

    def _registry_pass(self, p: PassRecord, verify: bool) -> None:
        lake, queries, expected = self.inputs["lake"], self.inputs["queries"], self.inputs["expected"]
        for name in self.inputs["order"]:
            def op(rec, name=name):
                t0 = time.time()
                df = queries[name](self.spark, lake)
                t1 = time.time()
                if verify:
                    out = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    obs = Observation(f"lakebench_{name}")
                    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    out = obs.get["rows"]
                rec.parts = {"build_s": t1 - t0, "action_s": time.time() - t1}
                return out

            rec, out = self._call(p, name, "registry", op)
            if verify:
                self._check(p, rec, lambda: checks.check_result(expected[name], *out))
                if rec.ok:
                    self.verified_rows[name] = len(out[1])
            else:
                self._check(p, rec, lambda: None if out == self.verified_rows.get(name)
                            else f"{out} rows, verified {self.verified_rows.get(name)}")

    # -- medallion --------------------------------------------------------

    def _write_op(self, p: PassRecord, name: str, layer: str, out_dir: str, fn) -> OpRecord:
        before = self._untimed(p, lambda: checks.files_under(out_dir))
        rec, _ = self._call(p, name, layer, lambda rec: fn())
        after = self._untimed(p, lambda: checks.files_under(out_dir))
        nbytes, nfiles = checks.written_since(before, after)
        rec.parts = {"bytes_written": nbytes, "files_written": nfiles,
                     "bytes_after": sum(v[2] for v in after.values())}
        return rec

    def _medallion_pass(self, p: PassRecord, verify: bool) -> None:
        spark, inp = self.spark, self.inputs
        base, base_v2, gold = inp["base"], inp["base_v2"], zone_path("gold", "vendas", inp["base"])
        for t in OLIST_TABLES:
            silver = zone_path("silver", t, base)
            rec = self._write_op(p, t, "bronze_to_silver", silver,
                                 lambda t=t: bronze_to_silver(spark, t, base=base))
            self._check(p, rec, lambda: self._rows_differ(silver, inp["rows"][t]))
        rec = self._write_op(p, "vendas_gold", "silver_to_gold_vendas", gold,
                             lambda: vendas_gold(spark, base=base))
        self._check(p, rec, lambda: checks.check_totals(inp["gold_v1"], checks.gold_totals(gold, self.tmp_dir)))
        for t in FACT_TABLES:
            silver = zone_path("silver", t, base_v2)
            rec = self._write_op(p, f"cdc_{t}", "bronze_to_silver", silver,
                                 lambda t=t: bronze_to_silver(spark, t, base=base_v2))
            self._check(p, rec, lambda: self._rows_differ(silver, inp["rows_v2"][t]))

        def refresh():
            v2 = {t: read_parquet(spark, zone_path("silver", t, base_v2)) for t in FACT_TABLES}
            dims = {t: read_parquet(spark, zone_path("silver", t, base)) for t in ("products", "customers")}
            changed = spark.read.schema("order_id string").option("header", "true").csv(inp["changed_csv"])
            incremental_vendas_update(
                spark, gold, v2["order_items"], v2["orders"], dims["products"],
                dims["customers"], v2["order_payments"], changed,
            )

        rec = self._write_op(p, "refresh", "incremental_gold", gold, refresh)
        self._check(p, rec, lambda: checks.check_totals(inp["gold_v2"], checks.gold_totals(gold, self.tmp_dir)))
        if verify:
            self._check(p, rec, lambda: self._refresh_differs_from_rebuild(gold))

    def _rows_differ(self, path: str, want: int) -> str | None:
        got = checks.parquet_rows(path, self.tmp_dir)
        return None if got == want else f"{got} rows in {path}, generated {want}"

    def _refresh_differs_from_rebuild(self, gold: str) -> str | None:
        """Refreshed gold must equal a full ``vendas_gold`` build of the
        changed silver state (same sorted columns, rows and value hash)."""
        rebuilt = os.path.join(self.tmp_dir, "gold_rebuild")
        vendas_gold(self.spark, base=self.inputs["base_v2"], gold_path=rebuilt)
        want = self.spark.read.parquet(rebuilt)
        got = self.spark.read.parquet(gold)
        expected = checks.result_digest(want.columns, [tuple(r) for r in want.collect()])
        return checks.check_result(expected, got.columns, [tuple(r) for r in got.collect()])


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
