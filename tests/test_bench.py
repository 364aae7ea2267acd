"""Smoke test of the bench harness's rollup timing path."""

from __future__ import annotations

import bench
from intervalaverage_spark.jobs.rollup import run_rollup
from intervalaverage_spark.sources.webts import synth_webpages


def test_webts_rollup_reports_the_job_points(spark, tmp_path):
    seconds, points = bench._bench_webts_rollup(spark, 40)
    assert seconds > 0
    # the bench builds its pages with these arguments
    pages = synth_webpages(spark, n_pages=40, n_domains=4)
    report = run_rollup(spark, pages, out_root=str(tmp_path / "state"))
    assert points == report["total_points"] > 0
