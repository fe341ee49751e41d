"""Correctness comparators.  Each returns a list of mismatch messages; an
empty list means the output matched its reference.  They run outside every
timed region.

* pip_dense: equal hit counts across passes; Spark rows on a page sample vs
  the DuckDB float32 winding twin; the star8 200x200 grid vs the pure-Python
  reference winding of ``tests/test_kernel_golden.py``.
* sf01_queries: each query vs its ``oracle_sql()`` twin, as an
  order-insensitive multiset of ``tools/selfcheck.norm`` values.
* checkpointed_job: ``validate_snapshot`` is ``{}``; resumed rows equal the
  fresh rows as a multiset; ``text_sha`` is identical per url.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from tools.selfcheck import norm


def equal_counts(counts: list[int]) -> list[str]:
    if len(set(counts)) > 1:
        return [f"hit count differs across passes: {counts}"]
    return []


def multiset(cols: list[str], rows, ocols: list[str], orows) -> list[str]:
    """Spark (cols, rows) vs oracle (ocols, orows): same column set, row
    count and multiset of normalized values."""
    if sorted(cols) != sorted(ocols):
        return [f"columns {cols} vs oracle {ocols}"]
    if len(rows) != len(orows):
        return [f"{len(rows)} rows vs oracle {len(orows)}"]
    order = [cols.index(c) for c in sorted(cols)]
    oorder = [ocols.index(c) for c in sorted(ocols)]
    got = Counter(tuple(norm(r[i]) for i in order) for r in rows)
    exp = Counter(tuple(norm(r[i]) for i in oorder) for r in orows)
    if got != exp:
        extra = sorted((got - exp).elements())[:2]
        missing = sorted((exp - got).elements())[:2]
        return [f"value multiset differs: extra {extra}, missing {missing}"]
    return []


def star8_grid(contains=None) -> list[str]:
    """The kernel on the reference's 200x200 star grid vs the pure-Python
    reference winding (same fixture as tests/test_kernel_golden.py)."""
    from polycheck_spark.data.polygons import GOLDEN_POLYGONS
    from polycheck_spark.geo.kernel import contains as kernel_contains
    from tests.test_kernel_golden import _oracle_contains
    contains = contains or kernel_contains
    polygon = GOLDEN_POLYGONS["star8"]
    dots = np.linspace(-8, 8, 200)
    xs, ys = np.meshgrid(dots, dots, indexing="xy")
    points = np.stack([xs.ravel(), ys.ravel()], axis=1)
    expected = np.array([_oracle_contains(polygon, p) for p in points])
    got = np.asarray(contains(polygon, points)).astype(bool)
    bad = int((got != expected).sum())
    return [f"star8 grid: {bad} of {len(points)} points differ"] if bad else []


def snapshot_valid(bad: dict) -> list[str]:
    return [f"snapshot row counts differ from parquet footers: {bad}"] if bad else []


def same_rows(fresh: list[tuple], resumed: list[tuple]) -> list[str]:
    if Counter(fresh) != Counter(resumed):
        return [f"resumed rows differ from fresh rows "
                f"({len(resumed)} vs {len(fresh)} rows)"]
    return []


def text_sha_per_url(fresh: list[tuple], resumed: list[tuple]) -> list[str]:
    """Rows are (url, text_sha); every url must carry the same sha set."""
    def by_url(rows):
        out: dict[str, set] = {}
        for url, sha in rows:
            out.setdefault(url, set()).add(sha)
        return out
    a, b = by_url(fresh), by_url(resumed)
    bad = [u for u in a.keys() | b.keys()
           if a.get(u) != b.get(u) or len(a.get(u, ())) != 1]
    return [f"text_sha differs for {len(bad)} urls, e.g. {sorted(bad)[:2]}"] if bad else []
