"""Observed counters (sparkcrawl/functions/observe.py): a count read
from an observation is exact, and one that does not report falls back
to an action instead of blocking."""

from pyspark.sql import functions as F

from sparkcrawl.functions import observe as ob


def test_observed_count_on_written_union_branch(spark, tmp_path):
    """Observed at the top of a union branch an action writes, the count
    reports, also when the branch is empty."""
    base = spark.range(20)
    full, obs_full = ob.observe(base.filter(F.col("id") % 2 == 0))
    empty, obs_empty = ob.observe(base.filter(F.col("id") < 0))
    full.unionByName(empty).write.parquet(str(tmp_path / "out"))
    assert ob.observed(obs_full) == {"n": 10}
    assert ob.observed(obs_empty) == {"n": 0}


def test_observed_count_falls_back_to_an_action(spark, tmp_path, monkeypatch):
    """An observation whose node never ran reports nothing within the
    timeout, and an observation on a persisted DataFrame whose cache is
    empty may be dropped with it by AQE: both are counted with an action,
    and the count is exact either way."""
    monkeypatch.setattr(ob, "_REPORT_TIMEOUT_S", 0.05)
    base = spark.range(20)
    _, obs = ob.observe(base)
    assert ob.observed(obs) is None
    assert ob.observed_count(obs, base) == 20

    keys = base.select((F.col("id") % 5).alias("k")).distinct()
    gone, obs_gone = ob.observe(
        keys.join(spark.range(5).withColumnRenamed("id", "k"), "k", "left_anti"))
    gone = gone.persist()  # observed BEFORE persist, and its cache is empty
    base.select(F.col("id").alias("k")).unionByName(gone).write.parquet(
        str(tmp_path / "out"))
    assert ob.observed_count(obs_gone, gone) == 0
    gone.unpersist()
