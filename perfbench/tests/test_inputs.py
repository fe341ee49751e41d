"""Seeded inputs repeat for a seed, and span self time excludes children."""

import numpy as np

from perfbench import sfdata
from perfbench.tracing import Tracer


def test_same_seed_same_tables():
    a = sfdata.documents(np.random.default_rng(5), 300)
    b = sfdata.documents(np.random.default_rng(5), 300)
    c = sfdata.documents(np.random.default_rng(6), 300)
    assert a.equals(b) and not a.equals(c)
    texts = a.column("text").to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert dups and all(t[:-len(" dup")] in texts for t in dups)
    e = sfdata.embeddings(np.random.default_rng(5), 50)
    assert e.equals(sfdata.embeddings(np.random.default_rng(5), 50))
    assert len(e.column("embedding")[0]) == sfdata.EMB_DIM


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("op", "q"):
        with tr.span("spark", "count"):
            pass
    tr.spans[0]["start"], tr.spans[0]["end"] = 0.0, 3.0
    tr.spans[1]["start"], tr.spans[1]["end"] = 1.0, 2.5
    assert tr.self_times() == {"op": 1.5, "spark": 1.5}
    assert tr.spans[1]["parent"] == 0


def test_tracing_off_records_nothing():
    tr = Tracer(False)
    with tr.span("op", "q"):
        pass
    assert tr.spans == [] and tr.self_times() == {}
