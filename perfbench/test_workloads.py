"""Checks of the benchmark's own frozen data and arithmetic:

    python3 -m pytest perfbench -q
"""

from bench import HEADLINE
from perfbench import queries, trace
from vbpl_web_crawl_spark.plans.queries import get_oracles, get_queries


def test_query_classes_partition_the_headline():
    heavy, light = set(queries.HEAVY), set(queries.LIGHT)
    assert len(heavy) == len(queries.HEAVY) and len(light) == len(queries.LIGHT)
    assert not heavy & light
    assert heavy | light == set(HEADLINE)


def test_every_classified_leaf_is_a_query_with_an_oracle():
    names = set(queries.HEAVY) | set(queries.LIGHT)
    assert names <= set(get_queries())
    assert names <= set(get_oracles())


def test_timed_samples_come_from_their_class():
    assert set(queries.HEAVY_TIMED) <= set(queries.HEAVY)
    assert set(queries.LIGHT_TIMED) <= set(queries.LIGHT)


def test_interval_arithmetic():
    a = [(0.0, 4.0), (3.0, 5.0), (7.0, 9.0)]
    assert trace.merge(a) == [(0.0, 5.0), (7.0, 9.0)]
    assert trace.length(a) == 7.0
    assert trace.intersect(a, [(4.0, 8.0)]) == [(4.0, 5.0), (7.0, 8.0)]
    assert trace.subtract(a, [(1.0, 2.0), (8.0, 10.0)]) == [(0.0, 1.0), (2.0, 5.0), (7.0, 8.0)]
    assert trace.subtract([(0.0, 1.0)], []) == [(0.0, 1.0)]
