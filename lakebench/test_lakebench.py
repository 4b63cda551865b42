"""Tests of the lake benchmark itself. Run from the repository root:

    python3 -m pytest lakebench -q

The checker self-test runs the registry on Spark and on DuckDB; by
default it uses the star lake the benchmark generates at sf 0.01, or the
lake directory named by ``LAKEBENCH_ORACLE_LAKE``.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import metrics  # noqa: E402
import olist  # noqa: E402
import sparkstats  # noqa: E402
import starlake  # noqa: E402
from workloads import OpRecord, PassRecord  # noqa: E402

#: the registry operations the benchmark was designed around: driver
#: loops, reference-parity and TPC-H shaped joins, gram and graph joins
CANDIDATES = (
    "bpe_merge_table", "bpe_segment_tokens", "kmeans_embedding_clusters",
    "gmm_em_order_values", "quality_logreg_gd", "logreg_auc_roc",
    "logreg_isotonic_calibration", "graph_label_propagation",
    "conformal_interval_coverage", "vendas_flagship", "pivot_sum_payments",
    "left_join_null_fill", "tpch_q3_shaped", "tpch_q18_shaped", "tpch_q21_shaped",
    "groupby_aggregates", "join_semi_anti", "graph_triangle_counts",
    "dedup_ngram_containment_pairs", "dedup_minhash_pairs", "winnow_quotation_pairs",
)


# --- roll-up arithmetic, without Spark -------------------------------------


def _op(name, layer, start, end, jobs=1, intervals=(), run_s=0.0, parts=None):
    stats = sparkstats.OpStats()
    stats.counters.update(jobs=jobs, executor_run_s=run_s)
    stats.intervals = list(intervals)
    return OpRecord(name, layer, start, end, True, parts or {}, stats)


def test_interval_arithmetic():
    ivs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0)]
    # [1, 4] + [6, 7] + [9, 10] after clipping
    assert sparkstats.covered_s(ivs, 0.0, 10.0) == pytest.approx(5.0)
    assert sparkstats.idle_cluster_s(ivs, 0.0, 10.0) == pytest.approx(5.0)
    assert sparkstats.idle_cluster_s([(0.0, 10.0), (2.0, 3.0)], 0.0, 10.0) == 0.0
    assert sparkstats.idle_cluster_s([], 5.0, 8.0) == pytest.approx(3.0)
    assert sparkstats.core_busy_ratio(8.0, 4.0, 4) == pytest.approx(0.5)
    assert sparkstats.median([3.0, 1.0, 2.0, 10.0]) == pytest.approx(2.5)


def test_pass_roll_up():
    p = PassRecord(index=1, traced=True, start=100.0, end=110.0, excluded_s=1.0)
    p.ops = [
        _op("bpe_merge_table", "registry", 100.0, 104.0, jobs=30,
            intervals=[(100.5, 101.5), (102.0, 103.0)], run_s=6.0,
            parts={"build_s": 3.0, "action_s": 1.0}),
        _op("vendas_flagship", "registry", 104.0, 109.0, jobs=7,
            intervals=[(104.0, 108.0)], run_s=12.0, parts={"build_s": 0.5, "action_s": 4.5}),
    ]
    v = metrics._pass_values(p, {"cores": 4, "bronze_bytes": 0})
    assert v["bpe_merge_table.jobs"] == 30
    assert v["vendas_flagship.action_s"] == 4.5
    assert v["spark.jobs"] == 37
    # wall 10 s minus 1 s of checks; 18 executor seconds on 4 cores
    assert v["spark.core_busy_ratio"] == pytest.approx(18.0 / (9.0 * 4))
    # 6 s of jobs in a 10 s window, less the 1 s of excluded checks
    assert v["driver.idle_cluster_s"] == pytest.approx(3.0)
    assert v["trace.span_coverage"] == pytest.approx(9.0 / 9.0)
    assert v["refresh_s"] == 0.0


def test_medallion_roll_up():
    p = PassRecord(index=0, traced=True, start=0.0, end=6.0)
    p.ops = [
        _op("geolocation", "bronze_to_silver", 0.0, 1.0, parts={"bytes_written": 300, "files_written": 2}),
        _op("vendas_gold", "silver_to_gold_vendas", 1.0, 4.0, jobs=12,
            parts={"bytes_written": 500, "files_written": 5}),
        _op("refresh", "incremental_gold", 4.0, 6.0, jobs=18,
            parts={"bytes_written": 400, "files_written": 5, "bytes_after": 500}),
    ]
    v = metrics._pass_values(p, {"cores": 4, "bronze_bytes": 1200})
    assert v["jobs.bronze_to_silver.geolocation.wall_s"] == 1.0
    assert v["jobs.incremental_gold.jobs"] == 18
    assert v["refresh_s"] == 2.0
    assert v["incr_rewrite_frac"] == pytest.approx(0.8)
    assert v["write_amp"] == pytest.approx(1200 / 1200)


def _emitted_names() -> tuple[set[str], set[str]]:
    traced = PassRecord(index=0, traced=True, start=0.0, end=2.0)
    traced.ops = [_op("vendas_flagship", "registry", 0.0, 1.0)]
    plain = PassRecord(index=1, traced=False, start=2.0, end=3.0)
    info = {"cores": 4, "bronze_bytes": 0, "get_spark_s": 1.0, "warmup_s": 2.0,
            "generate_s": 0.5, "peak_rss_mb": 100.0, "retained_mb": 50.0}
    return (set(metrics.end_to_end([plain], info, 4, 0)),
            set(metrics.per_layer([traced, plain], info)))


def test_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e, layer = _emitted_names()
    assert e2e == {m["name"] for m in spec["end_to_end"]}
    assert layer == {m["name"] for m in spec["per_layer"]}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"]), m["name"]
        assert m["unit"] == metrics.unit(m["name"])
    assert {w["name"] for w in spec["workloads"]} == {"medallion", "registry"}


# --- Olist generator ---------------------------------------------------------


@pytest.fixture(scope="module")
def olist_lakes(tmp_path_factory):
    def write(seed, tag):
        d = tmp_path_factory.mktemp(tag)
        m = olist.write_lake(str(d / "v1"), str(d / "v2"), 600, seed)
        return str(d), m

    return write(7, "a"), write(7, "b"), write(8, "c")


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root) for f in fs
    )


def test_generator_is_seeded(olist_lakes):
    (a, _), (b, _), (c, _) = olist_lakes
    assert _files(a) == _files(b)
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert not mismatch and not errors and len(match) == 12
    _, mismatch, _ = filecmp.cmpfiles(a, c, _files(a), shallow=False)
    assert mismatch


def test_generator_plants_cases(olist_lakes, tmp_path):
    (root, m), _, _ = olist_lakes
    v1, v2, tmp = os.path.join(root, "v1"), os.path.join(root, "v2"), str(tmp_path)
    # DuckDB's parse of the CSVs agrees with the generator's row counts
    assert checks.bronze_counts(v1, olist.OLIST_SCHEMAS, tmp) == m["rows"]
    assert checks.bronze_counts(v2, olist.FACT_TABLES, tmp) == m["rows_v2"]
    con = checks._connect(tmp)
    msgs = [r[0] for r in con.execute(
        f"SELECT review_comment_message FROM {checks._csv(v1, 'order_reviews')} "
        "WHERE review_comment_message IS NOT NULL").fetchall()]
    assert any("\n" in s for s in msgs)
    assert any('"' in s for s in msgs)
    assert any("," in s for s in msgs)
    pay = checks._csv(v1, "order_payments")
    types = {r[0] for r in con.execute(f"SELECT DISTINCT payment_type FROM {pay}").fetchall()}
    assert types == set(olist.PAYMENT_TYPES)
    assert con.execute(
        f"SELECT count(*) FROM (SELECT order_id FROM {pay} GROUP BY 1 HAVING count(*) > 1)"
    ).fetchone()[0] > 0
    orders, items = checks._csv(v1, "orders"), checks._csv(v1, "order_items")
    assert con.execute(
        f"SELECT count(*) FROM {orders} WHERE order_id NOT IN (SELECT order_id FROM {items})"
    ).fetchone()[0] == len(m["plan"]["no_items"]) > 0
    assert con.execute(
        f"SELECT count(*) FROM {orders} WHERE order_id NOT IN (SELECT order_id FROM {pay})"
    ).fetchone()[0] == len(m["plan"]["no_payments"]) > 0
    assert con.execute(f"SELECT count(*) FROM {orders} WHERE order_approved_at IS NULL").fetchone()[0] > 0
    assert con.execute(
        f"SELECT count(*) FROM {checks._csv(v1, 'products')} WHERE product_category_name IS NULL"
    ).fetchone()[0] > 0
    ids1 = {r[0] for r in con.execute(f"SELECT order_id FROM {orders}").fetchall()}
    ids2 = {r[0] for r in con.execute(f"SELECT order_id FROM {checks._csv(v2, 'orders')}").fetchall()}
    plan = m["plan"]
    assert plan["created"] and plan["modified"] and plan["deleted"]
    assert set(plan["created"]) <= ids2 - ids1
    assert set(plan["deleted"]) == ids1 - ids2
    assert set(plan["modified"]) <= ids1 & ids2
    assert sorted(set(plan["created"]) | set(plan["modified"]) | set(plan["deleted"])) == m["changed"]
    # expected gold totals come from DuckDB over the CSVs, and the change
    # batch moves them
    g1, g2 = checks.expected_gold(v1, tmp), checks.expected_gold(v2, tmp)
    assert g1["rows"] == m["rows"]["order_items"]
    assert g2["rows"] == m["rows_v2"]["order_items"]
    assert g1["VALOR_VENDA"] != g2["VALOR_VENDA"]


def test_totals_check_is_to_the_cent():
    want = dict.fromkeys(checks.GOLD_SUM_COLUMNS, 100.0) | {"rows": 10}
    assert checks.check_totals(want, dict(want)) is None
    assert checks.check_totals(want, want | {"FRETE": 100.004}) is None
    assert checks.check_totals(want, want | {"FRETE": 100.01})
    assert checks.check_totals(want, want | {"rows": 11})


# --- checker self-test, against tools/check_oracle.py --------------------------


@pytest.fixture(scope="module")
def oracle_lake(tmp_path_factory):
    lake = os.environ.get("LAKEBENCH_ORACLE_LAKE")
    if lake:
        return lake
    lake = str(tmp_path_factory.mktemp("star"))
    starlake.generate(lake, 0.01, 42)
    return lake


@pytest.fixture(scope="module")
def spark_results(oracle_lake, tmp_path_factory):
    import run

    import __spark_entry__ as ep

    spark = run._start_spark(str(tmp_path_factory.mktemp("spark")))
    qs = ep.queries()
    out = {}
    for name in CANDIDATES:
        df = qs[name](spark, oracle_lake)
        out[name] = (df.columns, [tuple(r) for r in df.collect()])
    yield out
    run._stop_spark(spark)


def _gate_verdicts(lake: str) -> dict[str, bool]:
    proc = subprocess.run(
        [sys.executable, "tools/check_oracle.py", lake, *CANDIDATES],
        cwd=ROOT, capture_output=True, text=True, timeout=1800,
    )
    verdicts = {}
    for m in re.finditer(r"(OK|FAIL) +(\w+):", proc.stdout):
        verdicts[m.group(2)] = verdicts.get(m.group(2), True) and m.group(1) == "OK"
    return verdicts


def test_checker_agrees_with_gate(oracle_lake, spark_results, tmp_path):
    import __spark_entry__ as ep

    sqls = ep.oracle_sql()
    expected = checks.oracle_expectations(oracle_lake, {n: sqls[n] for n in CANDIDATES}, str(tmp_path))
    ours = {n: checks.check_result(expected[n], *spark_results[n]) is None for n in CANDIDATES}
    gate = _gate_verdicts(oracle_lake)
    assert set(gate) == set(CANDIDATES)
    assert ours == gate


def _first_float(rows):
    for i, r in enumerate(rows):
        for j, v in enumerate(r):
            if isinstance(v, float) and v not in (0.0,) and v == v:
                return i, j
    raise AssertionError("no float cell")


def test_checker_rejects_perturbed_results(spark_results):
    cols, rows = spark_results["vendas_flagship"]
    expected = checks.result_digest(cols, rows)
    assert checks.check_result(expected, cols, list(rows)) is None
    i, j = _first_float(rows)
    bumped = list(rows)
    r = list(bumped[i])
    r[j] = r[j] * (1 + 1e-5)  # beyond 6 significant digits
    bumped[i] = tuple(r)
    assert checks.check_result(expected, cols, bumped)
    assert checks.check_result(expected, cols, rows[1:])
    assert checks.check_result(expected, cols, rows + rows[:1])
    assert checks.check_result(expected, [cols[0] + "_x", *cols[1:]], rows)
