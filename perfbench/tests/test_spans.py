"""Self-time arithmetic and the span recorder, without Spark."""

import pytest

from perfbench.spans import ROOT_SPAN, Span, Tracer, install, self_times


def _span(name, parent, start, end):
    return Span(name, parent, 0, start=start, end=end)


def test_self_time_subtracts_children_at_every_level():
    spans = [
        _span(ROOT_SPAN, -1, 0.0, 10.0),
        _span("sql", 0, 1.0, 9.0),
        _span("plan", 1, 2.0, 3.0),
        _span("manifest.read", 2, 2.2, 2.7),
        _span("query", 1, 4.0, 8.0),
    ]
    st = self_times(spans, 0)
    assert st[ROOT_SPAN] == pytest.approx(2.0)  # 10 - sql's 8
    assert st["sql"] == pytest.approx(3.0)  # 8 - plan 1 - query 4
    assert st["plan"] == pytest.approx(0.5)
    assert st["manifest.read"] == pytest.approx(0.5)
    assert st["query"] == pytest.approx(4.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_sums_by_name_and_clips_overlap():
    spans = [
        _span(ROOT_SPAN, -1, 0.0, 10.0),
        _span("manifest.read", 0, 1.0, 2.0),
        _span("manifest.read", 0, 3.0, 5.0),
        # overlapping siblings (e.g. recorded from another thread) count once
        _span("stats", 0, 4.0, 6.0),
        # a child running past its parent is clipped to it
        _span("bloom", 0, 9.0, 12.0),
    ]
    st = self_times(spans, 0)
    assert st["manifest.read"] == pytest.approx(3.0)
    assert st[ROOT_SPAN] == pytest.approx(10.0 - (1.0 + 3.0 + 1.0))


def test_self_time_of_a_later_statement_ignores_earlier_spans():
    spans = [
        _span(ROOT_SPAN, -1, 0.0, 1.0),
        _span("sql", 0, 0.1, 0.9),
        _span(ROOT_SPAN, -1, 2.0, 3.0),
        _span("sql", 2, 2.5, 2.75),
    ]
    assert self_times(spans, 2) == pytest.approx({ROOT_SPAN: 0.75, "sql": 0.25})


class _Cached:
    def __init__(self):
        self.data = None

    def load(self):
        if self.data is None:
            self.data = [1, 2, 3]
        return self.data


def test_tracer_records_nested_spans_counters_and_errors():
    tracer = Tracer()
    inner = tracer.wrap(lambda x: x + 1, "plan",
                        post=lambda t, args, r: t.count("plan.calls"))

    def fail():
        raise KeyError("boom")

    outer = tracer.wrap(lambda: inner(1) + inner(2), "sql")
    failing = tracer.wrap(fail, "metadata.commit",
                          on_error=lambda t, exc: t.count("errors"))
    cache = _Cached()
    load = tracer.wrap(_Cached.load, "manifest.read", when=lambda a: a[0].data is None)

    assert outer() == 5  # outside a statement: no spans
    assert tracer.spans == []

    tracer.begin(0, "read")
    assert outer() == 5
    with pytest.raises(KeyError):
        failing()
    load(cache)
    load(cache)  # cached: no second span
    st = tracer.end()

    names = [s.name for s in tracer.spans]
    assert names == [ROOT_SPAN, "sql", "plan", "plan", "metadata.commit", "manifest.read"]
    assert [s.parent for s in tracer.spans] == [-1, 0, 1, 1, 0, 0]
    assert {s.cls for s in tracer.spans} == {"read"}
    assert st.counters == {"plan.calls": 2, "errors": 1}
    assert sum(st.self_s.values()) == pytest.approx(st.seconds)
    assert tracer.overhead_s > 0
    assert not tracer.active


def test_install_wraps_lookup_sites_and_uninstall_restores():
    from icebergsql_spark import table as table_mod
    from icebergsql_spark.catalog import metadata as md
    from icebergsql_spark.catalog import stats as stats_mod

    before = (
        table_mod.may_match,
        table_mod.collect_stats,
        stats_mod.collect_blooms,
        md.TableMetadata.__dict__["load"],
        table_mod.ManagedTable.insert,
    )
    undo = install(Tracer())
    try:
        assert table_mod.may_match is not before[0]
        assert table_mod.collect_stats is not before[1]
        assert stats_mod.collect_blooms is not before[2]
        assert isinstance(md.TableMetadata.__dict__["load"], classmethod)
        assert md.TableMetadata.__dict__["load"] is not before[3]
    finally:
        undo()
    after = (
        table_mod.may_match,
        table_mod.collect_stats,
        stats_mod.collect_blooms,
        md.TableMetadata.__dict__["load"],
        table_mod.ManagedTable.insert,
    )
    assert after == before
