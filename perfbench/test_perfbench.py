"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import io
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, mix, run
from perfbench.trace import Tracer

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


def _digest(tables) -> str:
    h = hashlib.sha256()
    for t in tables:
        buf = io.BytesIO()
        pq.write_table(t if isinstance(t, pa.Table) else gen.to_arrow(t), buf)
        h.update(buf.getvalue())
    return h.hexdigest()


def _chain_inputs(seed: int) -> str:
    c = gen.Chain(seed, n_holders=500, rows_per_hour=80)
    parts = c.holders_snapshot_files(3) + list(c.stored_tables(range(4)))
    pages = json.dumps(c.hour_pages_rows(4), default=str, sort_keys=True)
    expected = repr((c.top100(3), gen.report_totals(c.hour_rows(4), {w for w in c.wallets})))
    return _digest(parts) + hashlib.sha256((pages + expected).encode()).hexdigest()


def test_generator_is_deterministic():
    assert _chain_inputs(7) == _chain_inputs(7)
    assert _chain_inputs(7) != _chain_inputs(8)
    assert _digest(gen.fixture_tables(42, 0.001).values()) == _digest(
        gen.fixture_tables(42, 0.001).values())


def test_generator_shapes():
    c = gen.Chain(3, n_holders=500, rows_per_hour=80)
    snap = c.holders_snapshot(2)
    assert snap["quantity_raw"].str.len().max() == 78  # uint256 max is present
    assert set(snap["token_decimal"]) == {6, 8, 18}
    top = c.top100(2)
    assert [r[0] for r in top] == list(range(1, 101))
    scaled = [gen.scaled(r[2], r[3]) for r in top]
    assert len(set(scaled)) < len(scaled)  # exact ties are ranked by address
    rows = c.hour_pages_rows(5)
    assert len(rows) > c.rows_per_hour  # replays on top of the hour's rows
    assert any(r["transaction_index"] is None for r in rows)
    assert any(r["wallet_address"] != r["wallet_address"].lower() for r in rows)


def test_tail_percentile():
    assert run.tail([5.0, 1.0, 3.0]) == (5.0, 100.0, 3)
    lat = [float(x) for x in range(1, 41)]
    assert run.tail(lat) == (30.0, 75.0, 40)  # ten samples lie beyond it


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    with tr.span("op"):
        with tr.span("child"):
            pass
    self_ms = tr.self_ms()
    total = (tr.spans[0][2] - tr.spans[0][1]) / 1e6
    assert abs(self_ms["op"] + self_ms["child"] - total) < 1e-9


def test_mix_queries_are_registered_and_redrawable():
    from merl_etl_spark import registry

    registry.load_all()
    m = mix.load_mix()
    assert all(q in registry.QUERIES and q in registry.ORACLES for q in mix.mix_queries(m))
    assert mix.draw(registry, m["draw_seed"], m["reference_core"],
                    m["excluded_modules"]) == m["drawn"]


def test_printed_metrics_are_declared():
    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    fake = [{"ms": 10.0 + i, "ok": True, "kind": "plain",
             "stats": {"rows": 5, "pages": 1, "appended": 4, "module": "operators.graph"}}
            for i in range(12)]
    e2e = run.end_to_end(fake, setup_s=1.0, peak=10.0)
    layers = run.layer_metrics(Tracer(enabled=True), fake, get_spark_s=1.0,
                               overhead=run.overhead_pct(fake, fake), failed=0, attempted=12)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert {k: u for k, (_v, u) in e2e.items()} == declared_e2e
    assert {k: u for k, (_v, u) in layers.items()} == declared_layers
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == sorted(WORKLOADS)


def test_overhead_compares_the_shared_op_kinds():
    traced = [{"ms": 110.0, "kind": "plain"}, {"ms": 900.0, "kind": "snapshot"}]
    untraced = [{"ms": 100.0, "kind": "plain"}]
    assert abs(run.overhead_pct(traced, untraced) - 10.0) < 1e-9
