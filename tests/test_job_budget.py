"""Job budgets: the number of Spark jobs a call submits, counted as the
difference of the scheduler's next job id across the call. At small
scale a job's scheduling overhead, not its bytes, sets an interactive
query's latency, so these counts are pinned like plan shapes are in
test_plan_shape.py."""

from __future__ import annotations

import pytest

from gwasdb_spark.gwas import api

from tests.gwas_fixtures import WAREHOUSE_TABLES, build_warehouse


def jobs_submitted(spark, call) -> int:
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(dag.nextJobId())
    call()
    return int(dag.nextJobId()) - before


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    w = build_warehouse(
        spark,
        str(tmp_path_factory.mktemp("budget_wh")),
        str(tmp_path_factory.mktemp("budget_raw")),
    )
    w.build_marker_index(n_files=4)
    return w


@pytest.mark.parametrize("table", WAREHOUSE_TABLES)
def test_read_submits_no_job(spark, wh, table):
    """A pinned schema means no footer-sampling inference job."""
    assert jobs_submitted(spark, lambda: wh.read(table)) == 0


def test_marker_exact_is_one_job(spark, wh):
    kgp_id = wh.fixture_facts["snps"][0]["kgp_id"]
    assert jobs_submitted(spark, lambda: api.marker_exact(wh, kgp_id).collect()) == 1


def test_combined_region_is_one_job(spark, wh):
    assert jobs_submitted(spark, lambda: api.combined_region(wh, 1, 0, 10_000_000).collect()) == 1
