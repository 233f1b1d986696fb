"""The chi² and KS drift queries share their (source, bucket) rollup
across branches without a persist: chi² derives its marginals with
windows over one scan, and KS reuses the rollup's exchange. (That no
cache outlives them is the registry-wide contract in
test_entry_oracle.py.)"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod


@pytest.fixture(scope="module")
def sf_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("sf")
    rows = [
        (i, ("web", "wiki", "news")[i % 3], 50 + (i * 37) % 900 + 200 * (i % 3 == 0))
        for i in range(300)
    ]
    spark.createDataFrame(rows, "doc_id long, source string, n_chars int").write.parquet(
        str(root / "documents.parquet")
    )
    return str(root)


@pytest.mark.parametrize("name", ["drift_nchars_chi2", "drift_ks_nchars"])
def test_drift_rollup_not_left_persisted(spark, sf_dir, name):
    out = entry_mod.queries()[name](spark, sf_dir)
    rows = out.collect()
    assert sorted(r["source"] for r in rows) == ["news", "web", "wiki"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    if name == "drift_nchars_chi2":
        assert final.count("FileScan") == 1
    else:
        assert "ReusedExchange" in final
