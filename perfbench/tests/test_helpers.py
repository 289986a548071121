"""Unit tests for the benchmark's helpers.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import Span, covered_s, self_times  # noqa: E402
from stats import geomean, median  # noqa: E402


def test_geomean_values():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([3.0]) == pytest.approx(3.0)
    assert geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)


def test_geomean_moves_where_the_median_does_not():
    base = [1.0, 2.0, 3.0, 4.0, 5.0]
    faster = [0.5, 2.0, 3.0, 4.0, 5.0]
    assert median(faster) == median(base)
    assert geomean(faster) < geomean(base)


@pytest.mark.parametrize("bad", [[], [1.0, 0.0], [2.0, -1.0]])
def test_geomean_rejects(bad):
    with pytest.raises(ValueError):
        geomean(bad)


def test_covered_merges_overlaps():
    assert covered_s([(1, 3), (2, 5), (7, 8)]) == pytest.approx(5.0)
    assert covered_s([(0, 10), (2, 3)]) == pytest.approx(10.0)
    assert covered_s([]) == 0.0


def test_self_time_subtracts_children_once_and_clips():
    spans = [
        Span("query", 0.0, 10.0, None, "w/p/q"),
        Span("build", 1.0, 3.0, 0, "w/p/q"),
        Span("catalog", 2.0, 5.0, 0, "w/p/q"),  # overlaps build
        Span("action", 8.0, 12.0, 0, "w/p/q"),  # runs past its parent
        Span("flush", 1.5, 2.0, 1, "w/p/q"),  # grandchild of query
    ]
    selfs = self_times(spans)
    # children cover [1, 5] and [8, 10] of the parent
    assert selfs[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert selfs[1] == pytest.approx(2.0 - 0.5)
    assert selfs[2:] == pytest.approx([3.0, 4.0, 0.5])


@pytest.fixture(scope="module")
def canon_pdf():
    return oracle.load_canon(BENCH.parent)


def test_digest_ignores_row_and_column_order(canon_pdf):
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    shuffled = df.sample(frac=1.0, random_state=3)[["v", "k"]]
    assert oracle.digest(df, canon_pdf) == oracle.digest(shuffled, canon_pdf)


def test_digest_rounds_doubles_to_six_places(canon_pdf):
    a = pd.DataFrame({"v": [0.1 + 0.2]})
    b = pd.DataFrame({"v": [0.3]})
    assert oracle.digest(a, canon_pdf) == oracle.digest(b, canon_pdf)


def test_digest_sees_value_type_and_name_changes(canon_pdf):
    base = oracle.digest(pd.DataFrame({"v": [1, 2]}), canon_pdf)
    assert oracle.digest(pd.DataFrame({"v": [1, 3]}), canon_pdf) != base
    assert oracle.digest(pd.DataFrame({"v": [1.0, 2.0]}), canon_pdf) != base
    assert oracle.digest(pd.DataFrame({"w": [1, 2]}), canon_pdf) != base
    assert base["rows"] == 2 and base["cols"] == ["v"]


def test_oracle_cache_is_keyed_by_sql(tmp_path, canon_pdf):
    (tmp_path / oracle.CACHE).write_text(
        '{"q": {"rows": 1, "cols": ["a"], "sha256": "x", "sql": "%s"}}'
        % oracle.sql_key("SELECT 1 AS a")
    )
    assert oracle.cached(tmp_path, {"q": "SELECT 1 AS a"})["q"]["rows"] == 1
    assert oracle.cached(tmp_path, {"q": "SELECT 2 AS a"}) is None
    assert oracle.cached(tmp_path, {"q": "SELECT 1 AS a", "r": "x"}) is None


def test_generator_is_seeded():
    a = gen.make_tables(0.001, seed=5)
    b = gen.make_tables(0.001, seed=5)
    c = gen.make_tables(0.001, seed=6)
    assert set(a) == set(gen.TABLES)
    for t in gen.TABLES:
        assert a[t].equals(b[t])
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_generator_scales_and_keeps_queries_non_vacuous():
    t = gen.make_tables(0.002, seed=1)
    assert t["lineitem"].num_rows == 12_000
    assert t["orders"].num_rows == 3_000
    assert t["documents"].num_rows == 500
    texts = t["documents"].column("text").to_pylist()
    # near-duplicates exist, and every token is from the shared vocabulary
    assert sum(x.endswith(" dup") for x in texts) > 0
    assert {w for x in texts for w in x.split()} <= set(gen.VOCAB) | {"dup"}
    keys = t["lineitem"].column("l_orderkey").to_pylist()
    assert max(keys) < t["orders"].num_rows


def test_generate_writes_once(tmp_path):
    out = tmp_path / "sf0.001_seed1"
    layout = gen.generate(out, 0.001, 1)
    assert layout["lineitem"]["rows"] == 6_000
    stamp = (out / "lineitem.parquet").stat().st_mtime_ns
    assert gen.generate(out, 0.001, 1) == layout
    assert (out / "lineitem.parquet").stat().st_mtime_ns == stamp
