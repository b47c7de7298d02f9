"""Tests for the benchmark's own arithmetic and inputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import measure  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# -- percentile and sample-count rule ---------------------------------------
def test_p90_needs_ten_samples_beyond_it():
    assert measure.percentile(list(range(1, 100)), 0.9) is None  # 9 beyond
    values = list(range(1, 101))
    assert measure.percentile(values, 0.9) == 90  # nearest rank, 10 beyond
    assert measure.percentile(list(reversed(values)), 0.9) == 90
    assert measure.percentile([], 0.9) is None


def test_timing_reports_median_and_count():
    t = measure.timing([3.0, 1.0, 2.0, 10.0])
    assert t == {"p50": 2.5, "p90": None, "n": 4}
    assert measure.timing(list(range(200)))["p90"] == 179


# -- self time --------------------------------------------------------------
def _spans(*rows):
    return [measure.Span(i, name, start, end, parent)
            for i, (name, start, end, parent) in enumerate(rows)]


def test_self_time_subtracts_union_of_overlapping_children():
    spans = _spans(("bench.op", 0.0, 10.0, None),
                   ("plans.build", 1.0, 4.0, 0),
                   ("operators.exec", 3.0, 6.0, 0),     # overlaps build by 1
                   ("operators.caching.release", 8.0, 12.0, 0))  # past the end
    own = measure.self_times(spans)
    assert own[0] == pytest.approx(10.0 - (5.0 + 2.0))
    assert own[1] == pytest.approx(3.0) and own[3] == pytest.approx(4.0)


def test_layer_self_times_sum_to_root_and_carve_scheduler_wait():
    spans = _spans(("bench.pass", 0.0, 10.0, None),
                   ("plans.build", 0.0, 2.0, 0),
                   ("operators.exec", 2.0, 9.0, 0))
    layers = measure.layer_self_times(spans, carve={2: 3.0, 1: 5.0})
    assert layers == pytest.approx({"bench": 1.0, "plans": 0.0,
                                    "operators": 4.0, "session.sched": 5.0})
    assert sum(layers.values()) == pytest.approx(10.0)


def test_tracer_nests_and_inherits_operation():
    ticks = iter(range(100))
    tr = measure.Tracer(clock=lambda: next(ticks))
    with tr.span("bench.op", "p0:pl01"):
        with tr.span("plans.build") as inner:
            pass
    outer = tr.spans[0]
    assert inner.parent == outer.id and inner.op == "p0:pl01"
    assert (outer.start, inner.start, inner.end, outer.end) == (0, 1, 2, 3)
    assert inner.layer == "plans" and outer.layer == "bench"


# -- peak resident memory ---------------------------------------------------
def test_vmhwm_reset_and_read():
    pid = os.getpid()
    block = bytearray(64 * 2**20)  # touch 64 MB
    for i in range(0, len(block), 4096):
        block[i] = 1
    high = measure.peak_rss_kb(pid)
    del block
    measure.reset_peak_rss(pid)
    after = measure.peak_rss_kb(pid)
    assert after < high - 32 * 1024


def test_process_tree_finds_children_and_counts_their_cpu():
    import subprocess
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass"
    child = subprocess.Popen([sys.executable, "-c", busy + "\ntime.sleep(30)"])
    try:
        before = measure.process_tree_cpu_s(os.getpid())
        time.sleep(1.5)
        assert child.pid in measure.process_tree(os.getpid())
        assert measure.process_tree_cpu_s(os.getpid()) - before >= 0.2
    finally:
        child.kill()
        child.wait(timeout=10)


# -- py4j counter -----------------------------------------------------------
def test_py4j_counter_skips_reference_releases(monkeypatch):
    from py4j.clientserver import ClientServerConnection
    sent = []
    monkeypatch.setattr(ClientServerConnection, "send_command",
                        lambda conn, command: sent.append(command) or "ys")
    counter = measure.Py4JCounter()
    counter.install()
    try:
        send = ClientServerConnection.send_command
        assert send(None, "c\no12\ncount\ne\n") == "ys"
        send(None, "m\nd\no13\ne\n")  # garbage-collected proxy
        send(None, "r\nu\norg\ne\n")
    finally:
        counter.uninstall()
    assert counter.count == 2 and len(sent) == 3


# -- event log attribution --------------------------------------------------
def test_event_log_attributes_tasks_to_job_groups():
    """The fixture is a trimmed Spark 4 event log: one ungrouped parquet
    write of 1000 rows, then group op1|3 (an aggregation: a listing job
    and a two-stage shuffle job) and group op2|5 (a filtered scan)."""
    with open(os.path.join(DATA, "eventlog.jsonl")) as f:
        groups = measure.parse_event_log(f)
    assert set(groups) == {"", "op1|3", "op2|5"}
    g1, g2, g0 = groups["op1|3"], groups["op2|5"], groups[""]
    assert (g1["jobs"], g1["stages"], g1["tasks"]) == (2, 3, 5)
    assert (g2["jobs"], g2["stages"], g2["tasks"]) == (2, 2, 3)
    assert g1["rows_read"] == 1000 and g2["rows_read"] == 500
    assert g1["shuffle_write_mb"] > 0 and g2["shuffle_write_mb"] == 0
    assert g0["rows_written"] == 1000 and g1["rows_written"] == 0
    # stage wall minus longest task, summed over the group's stages (ms)
    assert g1["sched_wait_s"] == pytest.approx(0.109)
    assert g2["sched_wait_s"] == pytest.approx(0.038)


def test_plan_counts():
    plan = ("AdaptiveSparkPlan\n+- Exchange hashpartitioning(k, 4)\n"
            "   +- BroadcastHashJoin\n      :- ArrowEvalPython [f(x)]\n"
            "      +- BroadcastExchange HashedRelationBroadcastMode\n"
            "         +- ReusedExchange [k], Exchange\n"
            "            +- FlatMapGroupsInPandasWithState\n")
    assert measure.plan_counts(plan) == {"exchanges": 3, "python_nodes": 2}


# -- derived inputs ---------------------------------------------------------
@pytest.fixture(scope="module")
def derived(tmp_path_factory):
    out = {}
    for seed in (1, 2):
        d = str(tmp_path_factory.mktemp(f"seed{seed}"))
        inputs.derive_tables(d, seed)
        out[seed] = d
    return out


@pytest.mark.parametrize("name", inputs.TABLES)
def test_derived_tables_keep_schema_types_and_layout(derived, name):
    src = pq.ParquetFile(os.path.join(inputs.SOURCE_DIR, f"{name}.parquet"))
    dst = pq.ParquetFile(os.path.join(derived[1], f"{name}.parquet"))
    assert dst.schema.to_arrow_schema() == src.schema.to_arrow_schema()
    for i in range(len(src.schema)):  # parquet physical and logical types
        a, b = src.schema.column(i), dst.schema.column(i)
        assert (a.path, a.physical_type, str(a.logical_type)) == \
            (b.path, b.physical_type, str(b.logical_type))
    assert dst.metadata.num_rows == src.metadata.num_rows
    assert dst.metadata.num_row_groups == 1
    # same rows, seeded order
    key = dst.schema_arrow.names[0]
    s, d = src.read(), dst.read()
    assert sorted(d[key].to_pylist(), key=repr) == sorted(s[key].to_pylist(), key=repr)
    if s.num_rows > 100:
        again = pq.read_table(os.path.join(derived[2], f"{name}.parquet"))
        assert d[key].to_pylist() != again[key].to_pylist()


def test_same_seed_same_inputs(derived, tmp_path):
    inputs.derive_tables(str(tmp_path), 1, ("orders",))
    a = pq.read_table(os.path.join(derived[1], "orders.parquet"))
    b = pq.read_table(str(tmp_path / "orders.parquet"))
    assert a.equals(b)


def test_event_stream_files_are_in_event_time_order(derived, tmp_path):
    paths = inputs.split_events(derived[1], str(tmp_path / "ev"), 1, 3)
    parts = [pq.read_table(p) for p in paths]
    assert len(parts) == 4 and parts[-1]["user_id"].to_pylist() == [inputs.FLUSH_USER]
    events = pq.ParquetFile(os.path.join(derived[1], "events.parquet"))
    assert sum(p.num_rows for p in parts[:-1]) == events.metadata.num_rows
    bounds = [(min(p["ts"].to_pylist()), max(p["ts"].to_pylist())) for p in parts]
    for (_, prev_max), (cur_min, _) in zip(bounds, bounds[1:]):
        assert prev_max <= cur_min
    docs = inputs.split_documents(derived[1], str(tmp_path / "docs"), 1, 2)
    assert sum(pq.read_table(p).num_rows for p in docs) == \
        pq.ParquetFile(os.path.join(derived[1], "documents.parquet")).metadata.num_rows
