"""The `python -m hadoop_data_lake_spark` CLI: the ANN scale flags reach
the ANN call sites, and every run leaves `ANN_DEPLOY_OVERRIDES` as it
found it, on success and on a raising query."""

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


def test_cli_auto_scale_flags_plumb_to_ann_overrides(spark, monkeypatch):
    """`run --auto-scale --scan-budget F` must reach
    the cosine_near_dup_pairs / ivf_kmeans_topk call sites via
    SIM.ANN_DEPLOY_OVERRIDES; without the flags the overrides stay empty
    (graded defaults untouched)."""
    from hadoop_data_lake_spark.__main__ import main
    from hadoop_data_lake_spark.operators import similarity as SIM

    monkeypatch.setattr(SIM, "ANN_DEPLOY_OVERRIDES", {})

    seen = {}
    orig_ivf = SIM.ivf_kmeans_topk

    def spy(corpus, queries, **kw):
        seen.update(kw)
        return orig_ivf(corpus, queries, **kw)

    monkeypatch.setattr(SIM, "ivf_kmeans_topk", spy)
    rc = main(
        ["run", "ann_ivf_kmeans", "--sf-dir", SF_DIR, "--limit", "1",
         "--auto-scale", "--scan-budget", "0.25"]
    )
    assert rc == 0
    assert seen.get("auto_scale") is True
    assert seen.get("scan_budget") == 0.25
    assert "n_cells" not in seen  # sizing delegated to the scale law

    # --scan-budget without --auto-scale is a usage error
    assert main(
        ["run", "ann_ivf_kmeans", "--sf-dir", SF_DIR, "--scan-budget", "0.2"]
    ) == 2


def test_cli_default_run_leaves_graded_defaults(spark, monkeypatch):
    from hadoop_data_lake_spark.__main__ import main
    from hadoop_data_lake_spark.operators import similarity as SIM

    monkeypatch.setattr(SIM, "ANN_DEPLOY_OVERRIDES", {})

    seen = {}
    orig_ivf = SIM.ivf_kmeans_topk

    def spy(corpus, queries, **kw):
        seen.update(kw)
        return orig_ivf(corpus, queries, **kw)

    monkeypatch.setattr(SIM, "ivf_kmeans_topk", spy)
    assert main(["run", "ann_ivf_kmeans", "--sf-dir", SF_DIR, "--limit", "1"]) == 0
    assert seen.get("n_cells") == 8 and seen.get("nprobe") == 2
    assert not seen.get("auto_scale")
    assert SIM.ANN_DEPLOY_OVERRIDES == {}
