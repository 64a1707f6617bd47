"""The `python -m hadoop_data_lake_spark` CLI: every run leaves
`ANN_DEPLOY_OVERRIDES` as it found it, on success and on a raising
query."""

import types

import pytest

from conftest import SF_DIR


def test_cli_clears_ann_overrides_when_query_raises(spark, monkeypatch):
    """ADVICE r12: a raising query must not leave the --auto-scale
    posture set for the rest of the process."""
    from hadoop_data_lake_spark.__main__ import main
    from hadoop_data_lake_spark.operators import similarity as SIM
    from hadoop_data_lake_spark.queries import registry as R

    monkeypatch.setattr(SIM, "ANN_DEPLOY_OVERRIDES", {})

    def boom(spark_, sf_dir):
        # the overrides ARE set while the query body runs
        assert SIM.ANN_DEPLOY_OVERRIDES.get("auto_scale") is True
        raise RuntimeError("mid-query failure")

    monkeypatch.setitem(
        R.REGISTRY,
        "boom_test_only",
        types.SimpleNamespace(fn=boom, oracle=None, tags=("test",)),
    )
    with pytest.raises(RuntimeError, match="mid-query failure"):
        main(
            ["run", "boom_test_only", "--sf-dir", SF_DIR, "--auto-scale",
             "--scan-budget", "0.25"]
        )
    assert SIM.ANN_DEPLOY_OVERRIDES == {}


def test_cli_clears_ann_overrides_on_success_too(spark, monkeypatch):
    from hadoop_data_lake_spark.__main__ import main
    from hadoop_data_lake_spark.operators import similarity as SIM

    monkeypatch.setattr(SIM, "ANN_DEPLOY_OVERRIDES", {})
    rc = main(
        ["run", "ann_ivf_kmeans", "--sf-dir", SF_DIR, "--limit", "1",
         "--auto-scale"]
    )
    assert rc == 0
    assert SIM.ANN_DEPLOY_OVERRIDES == {}
