"""The entry_queries package: one ``qNN_*`` domain module per query
family, all registering into ``_registry`` — the invariants that must
survive any future module re-organization.

The package root only imports the domain modules in order, so the
public ``QUERIES``/``ORACLES`` are the registry itself and their order
is plain registration order.
"""

import __spark_entry__
from imdb_metacritic_data_warehouse_spark import entry_queries as eq
from imdb_metacritic_data_warehouse_spark.entry_queries import _registry


def test_registry_shape():
    assert len(eq.QUERIES) == 371
    # FULL oracle coverage: every registered query has a DuckDB twin
    # (ann_ivf's contract-banded oracle included)
    assert set(eq.ORACLES) == set(eq.QUERIES)
    # the public dicts are the raw registrations, not a reordered copy
    assert eq.QUERIES is _registry.QUERIES
    assert eq.ORACLES is _registry.ORACLES
    assert list(__spark_entry__.queries()) == list(eq.QUERIES)


def test_domain_modules_register_in_order():
    # registration order must follow the qNN module order: a query
    # defined in q03 can never precede one from q01 in the public dict.
    import inspect

    mods = [inspect.getmodule(fn).__name__ for fn in eq.QUERIES.values()]
    seq = [m.rsplit(".", 1)[1] for m in mods if ".entry_queries.q" in m]
    # ADVICE r8: the old asserts only enforced per-module contiguity
    # (any block arrangement passed).  Exact invariant: the sequence of
    # FIRST occurrences must equal the lexicographically sorted module
    # list — q01 registers before q02 before q03 ...
    firsts = list(dict.fromkeys(seq))
    assert firsts == sorted(firsts), firsts
    # and each module's registrations are contiguous (no interleaving)
    assert seq == sorted(seq, key=lambda s: firsts.index(s))
