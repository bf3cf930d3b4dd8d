"""Registry-order invariants: ``plans.QUERIES`` is registration order with
the oracle-less queries moved last (plans/__init__ docstring), so any
prefix a verifier checks holds only oracled queries."""

from __future__ import annotations

from flink_template_spark import plans


def test_slate_has_no_oracle_less_queries():
    """Never put a query that structurally cannot go green ahead of one
    that can: the oracle-less names are exactly the tail of the export
    order, and the first 50 all have oracles."""
    names = list(plans.QUERIES)
    no_oracle = [q for q in names if q not in plans.ORACLES]
    assert no_oracle and names[-len(no_oracle):] == no_oracle
    for q in names[:50]:
        assert q in plans.ORACLES, f"slate entry {q} has no oracle"


def test_every_priority_name_exists():
    # the derived order must cover the registry exactly
    from flink_template_spark.plans import registry

    assert set(plans.QUERIES) == set(registry.QUERIES)
    assert set(plans.ORACLES) == set(registry.ORACLES)


def test_oracle_queries_all_registered():
    for name in plans.ORACLES:
        assert name in plans.QUERIES
