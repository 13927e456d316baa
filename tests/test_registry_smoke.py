"""Full-materialization smoke over every queries() entry at sf0.001.

The oracle gate (tests/test_queries_oracle.py) fully materializes every
oracle-backed query via ``toPandas()``, but rows-only queries are checked
with ``df.count()`` — and count() lets Catalyst prune projections, so a
pandas-UDF / mapInPandas closure feeding an output column can go entirely
unexecuted (the round-8 ``cosine_topk_ivf`` NameError escaped 500+ tests
this way; VERDICT r8 item 4).  This module closes that gap: every
registered query is executed to COMPLETE materialization at the smallest
scale factor, so any executor-side import/closure error surfaces.

Oracle-backed queries are smoked here too (at sf0.001, vs the gate's
configurable SF_DIR) because this module doubles as the fast
post-refactor gate: ``pytest tests/test_registry_smoke.py -q`` runs in
minutes, vs ~17 for the full suite.
"""

import pytest

import __spark_entry__ as entrymod

SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_materializes(spark, name):
    df = entrymod.queries()[name](spark, SMOKE_SF_DIR)
    pdf = df.toPandas()  # full materialization — executes every closure
    assert len(pdf.columns) > 0
    assert len(pdf) >= 0


def test_fixture_registry_builds_once_per_key(spark):
    """One build per (application, sf_dir, name); a second sf_dir builds
    its own. A build that returns None (a catalog-table writer) is
    memoized like any other."""
    calls = []

    def build(tag, value):
        return lambda: calls.append(tag) or value

    a = entrymod._fixture(spark, "/sf/a", "registry_probe", build("a", "dir-a"))
    assert entrymod._fixture(spark, "/sf/a", "registry_probe", build("a", "x")) == a
    b = entrymod._fixture(spark, "/sf/b", "registry_probe", build("b", "dir-b"))
    assert (a, b) == ("dir-a", "dir-b")
    for _ in range(2):
        assert entrymod._fixture(spark, "/sf/a", "registry_none", build("n", None)) is None
    assert calls == ["a", "b", "n"]


def test_tune_session_repins_utc_after_caller_moves_it(spark):
    """A caller that moves the session time zone between queries gets UTC
    back on the next query: the pin is re-applied on every call, not
    memoized with the other runtime confs."""
    from bigdata_etl_customer360_spark.session import tune_session

    tz = "spark.sql.session.timeZone"
    tune_session(spark)
    spark.conf.set(tz, "America/Los_Angeles")
    try:
        tune_session(spark)
        assert spark.conf.get(tz) == "UTC"
    finally:
        spark.conf.set(tz, "UTC")
