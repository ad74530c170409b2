"""dense_index and range_rank regression tests.

The range-exchange-reuse hazard (see the operators/indexing.py range_rank
comment; kd_rank._rank_step ranks through the same range_rank): `local` =
repartitionByRange + spark_partition_id feeds several consumers
(counts->offsets and the final join). If the physical
exchange is not reused, each consumer re-samples the range bounds and the
_pid values disagree across the join -> silently wrong dense ids. Small
inputs mask it (everything lands in one partition), so these tests use a
few thousand rows across many range partitions and check the ids against
the sorted oracle exactly.
"""
import numpy as np
import pytest

from py3dtilers_spark.operators.indexing import dense_index, range_rank


@pytest.fixture
def parts32(spark):
    """32 range partitions: dense_index sizes its exchange from the
    session's shuffle partitions."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "32")
    yield
    spark.conf.set(key, old)


def _df(spark, n, seed):
    rng = np.random.default_rng(seed)
    keys = [f"k{v:09d}" for v in rng.permutation(n * 7)[:n]]
    return spark.createDataFrame([(k,) for k in keys], ["k"]), keys


def test_dense_index_consumers_agree(spark, parts32):
    df, keys = _df(spark, 5000, seed=13)
    out = dense_index(df, ["k"], "idx")
    got = {r["k"]: r["idx"] for r in out.collect()}
    want = {k: i for i, k in enumerate(sorted(keys))}
    assert got == want


def test_dense_index_base_and_repeat_runs(spark, parts32):
    """Two separate executions of the same dense_index result must agree
    with each other (spark_partition_id is nondeterministic -- only the
    materialization in dense_index makes the result stable)."""
    df, keys = _df(spark, 3000, seed=29)
    out = dense_index(df, ["k"], "idx", base=1)
    a = {r["k"]: r["idx"] for r in out.collect()}
    b = {r["k"]: r["idx"] for r in out.collect()}
    want = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert a == want
    assert b == want


def test_range_rank_grouped_matches_sorted_oracle(spark, parts32):
    """Grouped rank, the kd level shape: five groups that each span several
    range partitions, heavy ties in the first order key (broken by the
    unique second key), ranks 1-based within each group."""
    rng = np.random.default_rng(41)
    n = 6000
    ids = [f"id{v:05d}" for v in rng.permutation(n)]
    rows = [
        (f"g{g}", int(a), i)
        for g, a, i in zip(rng.integers(0, 5, n), rng.integers(0, 40, n), ids)
    ]
    df = spark.createDataFrame(rows, ["g", "a", "id"])
    ranked, counts = range_rank(df, ["a", "id"], ("g",))
    assert sorted(ranked.columns) == ["_rn", "a", "g", "id"]
    got = {r["id"]: r["_rn"] for r in ranked.collect()}
    want = {}
    for g in {r[0] for r in rows}:
        members = sorted((a, i) for gg, a, i in rows if gg == g)
        want.update({i: k + 1 for k, (_, i) in enumerate(members)})
    assert got == want
    spans = {}
    for r in counts.collect():
        spans.setdefault(r["g"], []).append(r["_cnt"])
    assert len(spans) == 5
    assert all(len(c) > 1 for c in spans.values())
    assert sum(sum(c) for c in spans.values()) == n
