"""Tests of the benchmark's own pieces (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import numpy as np
import pytest

from perfbench import gen
from perfbench.stats import percentile, summarize, supported_tail
from perfbench.trace import (
    Span, Tracer, attribute_jobs, layer_coverage, self_times, union_length,
)


# -- generator ---------------------------------------------------------------

def _tables(seed):
    rng = gen.rng_for(seed, "t")
    return [gen.part_table(rng, 500), gen.documents_table(rng, 50),
            gen.events_table(rng, 300)]


def test_same_seed_same_inputs():
    for a, b in zip(_tables(7), _tables(7)):
        assert a.equals(b)
    qa = gen.point_queries(gen.rng_for(7, "q"), 2)
    qb = gen.point_queries(gen.rng_for(7, "q"), 2)
    assert [q["argv"] for q in qa] == [q["argv"] for q in qb]
    ca = gen.curate_corpus(gen.rng_for(7, "c"), 20, 3, 5)
    cb = gen.curate_corpus(gen.rng_for(7, "c"), 20, 3, 5)
    assert ca.table.equals(cb.table) and ca.injected == cb.injected


def test_other_seed_other_inputs():
    assert not _tables(7)[0].equals(_tables(8)[0])


def test_streams_are_independent():
    a = gen.rng_for(3, "serve").random(4)
    b = gen.rng_for(3, "curate_ingest").random(4)
    assert not np.allclose(a, b)


def test_layout_is_pinned(tmp_path):
    t = _tables(1)[0]
    gen.write_table(t, str(tmp_path / "p"))
    assert len(list((tmp_path / "p").iterdir())) == gen.N_FILES


def test_vocab_has_plain_term_semantics():
    """No stop words and no shared stems, so a term, prefix or phrase
    query means plain token membership, which DuckDB can check."""
    from valkey_search_spark.functions.analysis import DEFAULT_STOPWORDS
    from valkey_search_spark.functions.porter2 import porter2_stem

    assert not set(gen.VOCAB) & set(DEFAULT_STOPWORDS)
    assert len({porter2_stem(w) for w in gen.VOCAB}) == len(gen.VOCAB)


def test_replicas_are_token_disjoint_and_dups_injected():
    c = gen.curate_corpus(gen.rng_for(2, "c"), 10, 3, 4)
    n = 30
    vocab = [set(c.texts[i].split()) for i in range(n)]
    for r in range(3):
        for s in range(r + 1, 3):
            for i in range(10):
                assert not vocab[r * 10 + i] & vocab[s * 10 + i]
    assert [b for _, b in c.injected] == list(range(n, n + 4))


def test_mutation_batch_keys():
    rng = gen.rng_for(1, "m")
    centers, label, vecs, price = gen.ingest_base(rng, 50)
    live = {i: (int(label[i]), float(price[i]), vecs[i]) for i in range(50)}
    rows, nxt = gen.mutation_batch(rng, live, 50, 20, centers)
    keys = [r["vec_id"] for r in rows]
    assert len(keys) == len(set(keys)) == 20
    assert all(r["vec_id"] in live for r in rows if r["__op"] == "DEL")
    assert nxt == 50 + sum(1 for k in keys if k >= 50)


# -- percentiles ---------------------------------------------------------------

def test_percentile_matches_numpy():
    xs = list(np.random.default_rng(0).random(37))
    for q in (0, 10, 50, 90, 95, 100):
        assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))


@pytest.mark.parametrize("n, tail", [(5, None), (99, None), (100, 90.0),
                                     (199, 90.0), (200, 95.0),
                                     (999, 95.0), (1000, 99.0)])
def test_tail_needs_ten_samples_beyond(n, tail):
    assert supported_tail(n) == tail
    s = summarize(list(range(n)))
    assert s.get("tail_q") == tail and s["n"] == n


# -- spans and self time --------------------------------------------------------

def _span(sid, start, end, parent=None, req=1, name="x"):
    return Span(sid, name, start, end, parent, req)


def test_union_length_merges_and_clips():
    assert union_length([(1, 4), (3, 6), (8, 9)]) == 6
    assert union_length([(1, 4), (3, 6)], lo=2, hi=5) == 3
    assert union_length([]) == 0


def test_self_time_subtracts_covered_children():
    spans = [_span(1, 0, 10), _span(2, 1, 4, 1), _span(3, 3, 6, 1),
             _span(4, 2, 3, 2)]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 5)     # children cover [1, 6]
    assert st[2] == pytest.approx(3 - 1)      # grandchild [2, 3]
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(1)


def test_layer_coverage_skips_the_wrapper_but_not_below_it():
    """A request [0, 10] whose only child is a dispatcher span [0, 9]
    covering two layer spans [1, 4] and [3, 6]: the layers explain 5 of
    10, not the dispatcher's 9."""
    spans = [_span(1, 0, 10, name="request"),
             _span(2, 0, 9, 1, name="commands"),
             _span(3, 1, 4, 2, name="reply"), _span(4, 3, 6, 2, name="a"),
             _span(5, 2, 3, 3, name="b")]
    assert layer_coverage(spans, "request", skip=("commands",)) == {
        1: pytest.approx(0.5)}
    assert layer_coverage(spans, "request") == {1: pytest.approx(0.9)}


def test_jobs_go_to_the_innermost_span():
    spans = [_span(1, 0, 10), _span(2, 2, 5, 1)]
    jobs = [{"start": 3.0}, {"start": 7.0}, {"start": 11.0}]
    got = attribute_jobs(jobs, spans)
    assert got == {2: [jobs[0]], 1: [jobs[1]]}


def test_tracer_nests_tags_and_switches_per_thread():
    tr = Tracer()
    with tr.span("off"):
        pass
    assert tr.spans == []                      # not recording yet
    with tr.recording(7):
        with tr.span("a"):
            with tr.span("b"):
                assert tr.current() == "b"
    b, a = tr.spans
    assert (a.name, b.name) == ("a", "b")
    assert b.parent == a.sid and a.parent is None
    assert a.req == b.req == 7


def test_wrap_touches_one_instance_only():
    class Obj:
        def f(self, x):
            return x + 1

    tr = Tracer()
    o, other = Obj(), Obj()
    tr.wrap(o, "f", "obj.f", on_result=lambda r: r * 10)
    assert o.f(1) == 2                         # not recording: untouched
    with tr.recording(1):
        assert o.f(1) == 20 and other.f(1) == 2
    assert [s.name for s in tr.spans] == ["obj.f"]
