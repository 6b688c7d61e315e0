"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import trace as tr  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def table_folds(path: str) -> dict[str, tuple]:
    """Row count and an order-independent hash fold of every table."""
    con = duckdb.connect()
    out = {}
    for name in sorted(os.listdir(path)):
        files = os.path.join(path, name, "*.parquet")
        if not os.path.isdir(os.path.join(path, name)):
            continue
        out[name] = con.execute(
            f"SELECT COUNT(*), BIT_XOR(hash(columns(*)::VARCHAR)) "
            f"FROM (SELECT t::VARCHAR AS columns FROM read_parquet('{files}') t)"
        ).fetchone()
    con.close()
    return out


def test_same_seed_same_inputs_other_seed_other_values(tmp_path):
    a, _ = gen.cached_input(str(tmp_path / "a"), "omop", 7)
    b, _ = gen.cached_input(str(tmp_path / "b"), "omop", 7)
    c, _ = gen.cached_input(str(tmp_path / "c"), "omop", 8)
    fa, fb, fc = table_folds(a), table_folds(b), table_folds(c)
    assert fa == fb
    # values move with the seed ...
    for t in ("person", "visit_occurrence", *gen.OMOP_DOMAINS):
        assert fa[t][1] != fc[t][1], t
    # ... sizes do not, so timings compare across seeds
    for t in ("person", "visit_occurrence", *gen.OMOP_DOMAINS):
        assert fa[t][0] == fc[t][0], t


def test_query_base_is_seeded(tmp_path):
    counts = {}
    folds = {}
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        out = tmp_path / name
        out.mkdir()
        counts[name] = gen.generate_query_base(str(out), seed)
        con = duckdb.connect()
        folds[name] = con.execute(
            f"SELECT BIT_XOR(hash(t::VARCHAR)) FROM '{out}/lineitem.parquet' t"
        ).fetchone()
        con.close()
    assert folds["a"] == folds["b"] != folds["c"]
    assert counts["a"] == counts["c"]


def test_stream_chunks_are_seeded_ordered_and_bounded(tmp_path):
    a, ma = gen.cached_input(str(tmp_path / "a"), "stream", 3)
    b, _ = gen.cached_input(str(tmp_path / "b"), "stream", 3)
    c, mc = gen.cached_input(str(tmp_path / "c"), "stream", 4)
    fa, fb, fc = table_folds(a), table_folds(b), table_folds(c)
    assert fa == fb
    for d in ("events", "probes", "ticks"):
        assert fa[d][1] != fc[d][1], d
    assert ma["rows"] == mc["rows"]
    events = sorted(os.listdir(os.path.join(a, "events")))
    mtimes = [os.path.getmtime(os.path.join(a, "events", f)) for f in events]
    assert events[-1] == "zz_sentinel.parquet" and mtimes == sorted(mtimes)
    con = duckdb.connect()
    slice_s, spill_s = gen.CHUNK_HOURS * 3600, gen.OVERLAP_MINUTES * 60
    for i, f in enumerate(events[:-1]):
        lo, hi, n, distinct = con.execute(
            f"SELECT MIN(epoch(ts)), MAX(epoch(ts)), COUNT(*), COUNT(DISTINCT (uid, ts, v)) "
            f"FROM '{os.path.join(a, 'events', f)}'").fetchone()
        start = con.execute(f"SELECT epoch({gen.STREAM_BASE_TS})").fetchone()[0] + i * slice_s
        assert start - spill_s <= lo and hi < start + slice_s + spill_s
        assert n - distinct == int(gen.EVENTS_PER_CHUNK * gen.DUPLICATE_SHARE)
    con.close()


def test_progress_figures():
    from workloads import progress_figures

    def p(rows, trigger, add, states):
        return {"numInputRows": rows, "durationMs": {"triggerExecution": trigger, "addBatch": add},
                "stateOperators": states}

    state = {"commitTimeMs": 10, "numRowsTotal": 5, "memoryUsedBytes": 100,
             "numRowsDroppedByWatermark": 0}
    progress = [p(100, 400, 300, [state]), p(300, 800, 600, [state]),
                p(0, 50, 20, [dict(state, numRowsTotal=2, numRowsDroppedByWatermark=1)])]
    f = progress_figures(progress, 2.0)
    assert f["events_per_s"] == 200.0
    assert f["batch_p50_s"] == pytest.approx(0.6)  # data batches only
    assert f["add_batch_s"] == pytest.approx(0.92)
    assert f["commit_s"] == pytest.approx(0.03)
    assert (f["state_rows"], f["state_bytes"], f["late_rows"]) == (2, 100, 1)


def test_cache_rejects_unmarked_directory(tmp_path):
    root = str(tmp_path)
    final = os.path.join(root, f"omop-v{gen.GEN_VERSION}-s5")
    os.makedirs(final)
    # a half-written leftover: data but no marker
    with open(os.path.join(final, "leftover.parquet"), "w") as f:
        f.write("partial")
    with open(os.path.join(final, gen.MANIFEST), "w") as f:
        f.write("{}")
    assert not gen.is_complete(final)
    path, manifest = gen.cached_input(root, "omop", 5)
    assert path == final and gen.is_complete(path)
    assert not os.path.exists(os.path.join(path, "leftover.parquet"))
    assert manifest["seed"] == 5 and manifest["rows"]["person"] == gen.OMOP_PERSONS
    # a marked directory is reused as is
    os.remove(os.path.join(path, "person", "part-0.parquet"))
    again, _ = gen.cached_input(root, "omop", 5)
    assert again == path and not os.path.exists(os.path.join(path, "person", "part-0.parquet"))


def test_cache_rejects_marker_without_manifest(tmp_path):
    final = os.path.join(str(tmp_path), f"omop-v{gen.GEN_VERSION}-s6")
    os.makedirs(final)
    open(os.path.join(final, gen.MARKER), "w").close()
    assert not gen.is_complete(final)
    path, _ = gen.cached_input(str(tmp_path), "omop", 6)
    assert gen.is_complete(path) and os.path.isdir(os.path.join(path, "person"))


def span(name, start, end, parent=None, rpc=0):
    return tr.Span(name, start, end, parent=parent, rpc=rpc)


def test_self_time_of_nested_spans():
    spans = [
        span("apps.x", 0.0, 10.0, rpc=100),       # 0
        span("omop.a", 1.0, 4.0, parent=0, rpc=40),  # 1
        span("sources.read", 2.0, 3.0, parent=1, rpc=15),  # 2
        span("omop.b", 3.5, 6.0, parent=0, rpc=30),  # 3: overlaps 1
        span("omop.b", 6.0, 6.0, parent=0),        # 4: empty
    ]
    assert tr.self_times(spans) == pytest.approx([5.0, 2.0, 1.0, 2.5, 0.0])
    assert tr.self_counts(spans, "rpc") == [30, 25, 15, 30, 0]


def test_covered_merges_and_clips():
    assert tr.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert tr.covered([(0, 2), (8, 12)], 1, 10) == pytest.approx(3.0)
    assert tr.covered([], 0, 1) == 0.0


def test_event_log_parser_on_canned_log():
    log = tr.parse_event_log([os.path.join(HERE, "eventlog.jsonl")])
    app = log["groups"]["apps.generate_training_data/omop.sequence"]
    assert app["task_run_s"] == pytest.approx(0.8)
    assert app["task_cpu_s"] == pytest.approx(0.55)
    assert app["gc_s"] == pytest.approx(0.02)
    # 700-500-40-10 ms on the first task; 300-200-50 (result fetch) on the second
    assert app["sched_delay_s"] == pytest.approx(0.2)
    assert app["shuffle_read_bytes"] == 150
    assert app["shuffle_write_bytes"] == 200
    assert app["spill_bytes"] == 96
    assert app["stages"] == 2 and app["stages_skipped"] == 0
    assert app["tasks_failed"] == 1
    q = log["groups"]["queries.q1/operators.closure"]
    # stage 1 belongs to job 0; job 1 lists it again without running it
    assert q["stages"] == 1 and q["stages_skipped"] == 1
    assert q["task_run_s"] == pytest.approx(0.3)
    assert log["groups"]["(none)"]["stages_skipped"] == 1
    assert sorted(log["jobs"]) == [
        ("(none)", 4.0, 4.1),
        ("apps.generate_training_data/omop.sequence", 1.0, 2.0),
        ("queries.q1/operators.closure", 3.0, 3.5),
    ]
    apps = tr.aggregate_paths(log["groups"], "apps")
    assert apps["task_run_s"] == pytest.approx(0.8)
    assert tr.aggregate_paths(log["groups"], "queries")["stages"] == 1
    # jobs ran 1.0-2.0 of the 0.5-2.5 window
    assert tr.driver_gap(log["jobs"], [(0.5, 2.5)]) == pytest.approx(1.0)


def test_event_log_files_orders_rolling_parts(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    for n in ("events_10_app", "events_2_app", "appstatus_app", ".events_2_app.crc"):
        (d / n).write_text("")
    assert [os.path.basename(p) for p in tr.event_log_files(str(tmp_path))] == [
        "events_2_app", "events_10_app"]


def test_benchmark_json_matches_the_metrics_the_runs_print():
    import json

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == [
        (n, layers.unit_of(n)) for n in layers.per_layer_names()]
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)


def test_shim_spans_every_import_site_and_unshims():
    import types

    def work(x):
        return x + 1

    home = types.ModuleType("fakepkg.home")
    home.work = work
    user = types.ModuleType("fakepkg.user")
    user.work = work  # a `from fakepkg.home import work` site
    sys.modules.update({"fakepkg.home": home, "fakepkg.user": user})
    try:
        tracer = tr.Tracer()
        tracer.shim(work, "layer.work", package="fakepkg")
        assert user.work(1) == 2 and not tracer.spans  # disabled: no span
        tracer.enabled = True
        with tracer.span("apps.x"):
            assert user.work(1) == 2 and home.work(2) == 3
        assert [(s.name, s.parent) for s in tracer.spans] == [
            ("apps.x", None), ("layer.work", 0), ("layer.work", 0)]
        tracer.unshim()
        assert home.work is work and user.work is work
    finally:
        for m in ("fakepkg.home", "fakepkg.user"):
            sys.modules.pop(m)
