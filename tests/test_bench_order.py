"""bench.py coverage contract: the clean-record surface must cover EVERY
registry query (a hand-maintained list once drifted as waves landed and
hid a 49s tail).  bench.main() runs ``bench.bench_order``: registration
order with the ``RUN_LAST`` batch at the tail; these tests pin that
order and the frozen fixed45 yardstick."""

import importlib.util
import os

spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)

from imdb_metacritic_data_warehouse_spark import entry_queries as eq


def test_bench_order_covers_full_registry():
    order = bench.bench_order(eq.QUERIES)
    assert set(order) == set(eq.QUERIES)
    assert len(order) == len(eq.QUERIES)  # no duplicates


def test_run_last_names_all_registered():
    unknown = [n for n in bench.RUN_LAST if n not in eq.QUERIES]
    assert not unknown, unknown


def test_run_last_is_the_tail():
    order = bench.bench_order(eq.QUERIES)
    in_last = [n in bench.RUN_LAST for n in order]
    # once the heavy tail starts, it never yields back to light queries
    if True in in_last:
        first = in_last.index(True)
        assert all(in_last[first:]), "RUN_LAST queries must be contiguous at the tail"


def test_fixed45_yardstick_frozen():
    # the cross-round comparison set: exactly 45, all registered
    assert len(bench.HEADLINE_FIXED45) == 45
    assert not set(bench.HEADLINE_FIXED45) - set(eq.QUERIES)
