"""Self-tests for the benchmark: seeded inputs, span arithmetic, the
status-store reader and the metric catalog.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402


SMALL_BANK = gen.EtlSpec(clients=300, terminals=60, tx_per_day=2000)


def _etl_bytes(seed, days=2):
    sim = gen.EtlSim(seed, SMALL_BANK)
    out = []
    for _ in range(days):
        d = sim.next_day()
        out += [d.files[k] for k in sorted(d.files)] + [d.fact_tsv]
        out.append(repr((d.clients, d.accounts, d.cards, d.expected_report)).encode())
    return out


def test_same_seed_gives_identical_etl_inputs():
    assert _etl_bytes(7) == _etl_bytes(7)
    assert _etl_bytes(7) != _etl_bytes(8)


def test_etl_generator_injects_one_report_row_per_fraud_client():
    sim = gen.EtlSim(3, SMALL_BANK)
    d1, d2 = sim.next_day(), sim.next_day()
    per_rule = [sum(1 for r in d2.expected_report if r[0] == k) for k in (1, 2, 3, 4)]
    assert per_rule == [gen.FRAUD_PER_RULE] * 4
    assert d1.changed_clients == 0 and d2.changed_clients > 0
    assert d2.n_tx == SMALL_BANK.tx_per_day + 8 * gen.FRAUD_PER_RULE


def test_expected_fact_rows_match_the_transaction_file():
    sim = gen.EtlSim(5, SMALL_BANK)
    d = sim.next_day()
    (txt,) = [b for name, b in d.files.items() if name.startswith("transactions_")]
    lines = txt.decode("utf-8-sig").splitlines()[1:]
    fact = d.fact_tsv.decode().splitlines()
    assert len(fact) == len(lines) == d.n_tx
    for src, want in zip(lines, fact):
        f = src.split(";")
        f[2] = f[2].replace(",", ".")  # decimal comma
        assert "\t".join(f) == want
    tables = sim.expected_tables()
    assert len(tables["dim_terminals_hist"]) == sim.n_terminals
    assert len(tables["dim_clients_hist"]) == len(tables["dim_cards_hist"]) == len(sim.clients)


def test_a_missing_golden_fails_the_operation():
    import workloads

    wl = object.__new__(workloads.Workload)
    wl.name, wl.record_goldens, wl.seen = "w", False, {}
    wl.goldens = {"w": {"q": [1, "7"]}}
    recs = [{"ok": True, "error": None} for _ in range(3)]
    wl.check_digest(recs[0], "q", [1, "7"])
    wl.check_digest(recs[1], "q", [1, "8"])
    wl.check_digest(recs[2], "other", [1, "7"])
    assert [r["ok"] for r in recs] == [True, False, False]


def test_same_seed_gives_identical_catalog_tables(tmp_path):
    small = gen.CatalogSpec(documents=50, embeddings=20, events=200)

    def digest(d):
        gen.write_catalog(str(d), small)
        return {f: hashlib.md5((d / f).read_bytes()).hexdigest() for f in sorted(os.listdir(d))}

    assert digest(tmp_path / "a") == digest(tmp_path / "b")


def test_self_time_subtracts_covered_child_intervals():
    # root 0..10 with children 1..4 and 3..6 (overlapping) and 8..9;
    # the first child has its own child 2..3
    tree = [
        spans.Span(0, "root", 0.0, 10.0, None),
        spans.Span(1, "a", 1.0, 4.0, 0),
        spans.Span(2, "b", 3.0, 6.0, 0),
        spans.Span(3, "c", 8.0, 9.0, 0),
        spans.Span(4, "a.x", 2.0, 3.0, 1),
    ]
    st = spans.self_times(tree)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)  # covered: 1..6 and 8..9
    assert st[1] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)
    summary = spans.summarize(tree)
    assert summary["root"]["total_s"] == pytest.approx(10.0)
    assert sum(v["self_s"] for v in summary.values()) == pytest.approx(10.0 + 1.0)  # b overlaps a


def test_tracer_wraps_and_restores():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    t = spans.Tracer()
    t.instrument(mod, "f", lambda x: f"f{x}")
    assert mod.f(1) == 2
    t.uninstall()
    assert mod.f(1) == 2 and not hasattr(mod.f, "__wrapped__")
    assert [s.name for s in t.spans] == ["f1"] and t.spans[0].end >= t.spans[0].start


def test_status_reader_sees_a_tiny_job(tmp_path):
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[1]").appName("perfbench-selftest")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.host", "127.0.0.1")
             .config("spark.driver.bindAddress", "127.0.0.1")
             .config("spark.sql.warehouse.dir", str(tmp_path / "wh"))
             .getOrCreate())
    try:
        reader = spans.StatusReader(spark)
        before = reader.last_job_id()
        spark.sparkContext.setJobGroup("tiny", "tiny")
        spark.range(0, 1000, 1, 2).selectExpr("id % 3 AS k").groupBy("k").count().collect()
        jobs = reader.jobs(before)
        assert jobs and all(j["group"] == "tiny" for j in jobs)
        assert all(j["start"] and j["end"] and j["end"] >= j["start"] for j in jobs)
        tot = reader.stage_totals(jobs)
        assert tot["stages"] >= 2  # a shuffle map stage and a result stage
        assert tot["tasks"] >= 3
        assert tot["shuffle_write_bytes"] > 0
    finally:
        spark.stop()


def test_benchmark_json_lists_the_catalog_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(layers.END_TO_END)
    for m in bench["end_to_end"]:
        ref = layers.END_TO_END[m["name"]]
        assert (m["unit"], m["better"], m["bound"]) == (ref["unit"], ref["better"], ref["bound"])
    assert [m["name"] for m in bench["per_layer"]] == list(layers.PER_LAYER)
    for m in bench["per_layer"]:
        ref = layers.PER_LAYER[m["name"]]
        assert (m["unit"], m["better"]) == (ref["unit"], ref["better"])
