"""Span bookkeeping, percentile rules and the event-log parser."""

import json
import os

import pytest

import tracing

DATA = os.path.join(os.path.dirname(__file__), "data")
LOG = os.path.join(DATA, "eventlog_small.jsonl")
SPANS = os.path.join(DATA, "spans_small.jsonl")


def test_union_seconds_merges_overlaps():
    assert tracing.union_seconds([]) == 0.0
    assert tracing.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert tracing.union_seconds([(5, 6), (0, 1), (0.5, 0.75)]) == 2.0


def test_self_time_subtracts_covered_child_time():
    S = tracing.Span
    spans = [S("op", 0.0, 10.0, None, 1), S("a", 1.0, 4.0, 0, 1),
             S("b", 3.0, 5.0, 0, 1), S("c", 3.5, 4.0, 2, 1)]
    assert tracing.self_times(spans) == pytest.approx([6.0, 3.0, 1.5, 0.5])


def test_disabled_tracer_records_nothing():
    t = tracing.Tracer(enabled=False)
    with t.span("x", 1, jobs=True):
        pass
    assert t.spans == []


def test_tracer_nests_and_gives_each_span_its_own_group():
    t = tracing.Tracer(enabled=True, prefix="pb")
    with t.span("op", 1):
        with t.span("exec", 1, jobs=True):
            pass
        with t.span("exec", 1, jobs=True):
            pass
    assert [s.parent for s in t.spans] == [None, 0, 0]
    groups = [s.group for s in t.spans]
    assert groups[0] is None and groups[1] != groups[2]


@pytest.mark.parametrize("n, p", [
    (1000, 99), (200, 95), (100, 90), (99, 80), (50, 80), (49, 75),
    (40, 75), (39, None), (5, None)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    got = tracing.tail_percentile(n)
    assert got == p
    if got is not None:
        assert n * (100 - got) / 100 >= 10


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert tracing.percentile(xs, 50) == 2.5
    assert tracing.percentile(xs, 75) == 3.25
    assert tracing.percentile(xs, 100) == 4.0


def test_event_log_attributes_jobs_stages_tasks_to_groups():
    """A recorded local[2] log: warm-up jobs with no group, a statement
    that counts (two jobs under adaptive execution) and collects a union
    of five aggregations, and a built-then-collected aggregation."""
    log = tracing.read_event_log(LOG)
    groups = sorted(j.group for j in log.jobs.values())
    assert groups == [""] * 7 + ["pb.1.2.engine.execute"] * 7 + [
        "pb.2.5.agg.exec"] * 2
    ex = tracing.spark_stats(log, {"pb.1.2.engine.execute"})
    assert (ex["jobs"], ex["stages"], ex["tasks"]) == (7, 7, 15)
    assert ex["job_busy_s"] == pytest.approx(0.330, abs=1e-3)
    assert ex["task_run_s"] == pytest.approx(0.264)
    assert ex["shuffle_write_bytes"] == 614
    assert ex["input_records"] == 1800
    agg = tracing.spark_stats(log, {"pb.2.5.agg.exec"})
    assert (agg["jobs"], agg["tasks"]) == (2, 3)
    both = tracing.spark_stats(log, {"pb.1.2.engine.execute",
                                     "pb.2.5.agg.exec"})
    assert both["tasks"] == ex["tasks"] + agg["tasks"]
    assert tracing.spark_stats(log, {"pb.2.4.agg.build"})["jobs"] == 0


def test_event_log_sql_executions_carry_group_and_first_job():
    log = tracing.read_event_log(LOG)
    assert sorted(x.group for x in log.sql.values()) == [
        "", "", "", "pb.1.2.engine.execute", "pb.1.2.engine.execute",
        "pb.2.5.agg.exec"]
    for x in log.sql.values():
        assert x.start <= x.first_job <= x.end


def test_reused_group_ids_would_merge_operations():
    """Why every span gets a fresh group: the parser can only split what
    the groups split."""
    log = tracing.read_event_log(LOG)
    for j in log.jobs.values():
        j.group = "same"
    assert tracing.spark_stats(log, {"same"})["jobs"] == 16


def _recorded_spans():
    with open(SPANS) as f:
        return [tracing.Span(**json.loads(line)) for line in f]


def test_split_span_counts_each_instant_once():
    """On the recorded log, the parts of every span with Spark work add up
    to its wall time, none is negative, and job time is the union of the
    span's job intervals, so no second copy of the work is counted."""
    log = tracing.read_event_log(LOG)
    for s in _recorded_spans():
        if not s.group:
            continue
        parts = tracing.split_span(log, s.start, s.end, {s.group})
        assert set(parts) == {"job_busy_s", "plan_s", "gap_s", "driver_s"}
        assert min(parts.values()) >= 0
        assert sum(parts.values()) == pytest.approx(s.seconds, abs=1e-9)
        assert parts["job_busy_s"] == pytest.approx(
            tracing.spark_stats(log, {s.group})["job_busy_s"], abs=2e-3)
    execute = next(s for s in _recorded_spans() if s.name == "engine.execute")
    parts = tracing.split_span(log, execute.start, execute.end,
                               {execute.group})
    # the statement slept 0.1 s on the driver before its first action
    assert parts["driver_s"] >= 0.1
    assert parts["plan_s"] > 0 and parts["job_busy_s"] > 0


def test_search_op_wall_is_the_sum_of_its_layers():
    """parse + driver + plan + busy + gap + the op's self time is the op's
    wall time, on the recorded search op."""
    log = tracing.read_event_log(LOG)
    spans = _recorded_spans()
    self_s = tracing.self_times(spans)
    op = {s.name: (i, s) for i, s in enumerate(spans) if s.op == 1}
    _, execute = op["engine.execute"]
    parts = tracing.split_span(log, execute.start, execute.end,
                               {execute.group})
    root_i, root = op["search.op"]
    total = op["dsl.parse"][1].seconds + sum(parts.values()) + self_s[root_i]
    assert total == pytest.approx(root.seconds, abs=1e-9)
