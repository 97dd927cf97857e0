"""plans/shared.py: the one memo and the one staging-directory rule
behind every frame the plan modules share."""

import os
import subprocess
import sys
import textwrap

from data_pipeline_for_real_time_retail_analytics_spark.plans.shared import (
    clear,
    shared,
    work_dir,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_relative_and_absolute_sf_dir_share_one_entry(spark, sf_dir, monkeypatch):
    absolute = os.path.abspath(sf_dir)
    monkeypatch.chdir(os.path.dirname(absolute))
    relative = os.path.basename(absolute)
    builds = []

    def build():
        builds.append(1)
        return object()

    first = shared(spark, relative, "shared_probe", build)
    assert shared(spark, absolute, "shared_probe", build) is first
    assert builds == [1]
    assert work_dir(spark, relative, "shared_probe") == work_dir(
        spark, absolute, "shared_probe"
    )


def test_names_are_separate_entries_and_clear_drops_them(spark, sf_dir):
    a = shared(spark, sf_dir, "shared_probe_a", lambda: ["a"])
    b = shared(spark, sf_dir, "shared_probe_b", lambda: ["b"])
    assert (a, b) == (["a"], ["b"])
    assert work_dir(spark, sf_dir, "probe_a") != work_dir(spark, sf_dir, "probe_b")
    clear()
    assert shared(spark, sf_dir, "shared_probe_a", lambda: ["rebuilt"]) == ["rebuilt"]


def test_stage_table_leaves_no_directory_after_exit(sf_dir, tmp_path):
    """A process that stages a table for a stream drive and exits
    leaves no staging directory behind."""
    code = textwrap.dedent(
        f"""
        import os, sys, tempfile
        sys.path.insert(0, {ROOT!r})
        tempfile.tempdir = {str(tmp_path)!r}
        from data_pipeline_for_real_time_retail_analytics_spark.session import get_spark
        from data_pipeline_for_real_time_retail_analytics_spark.plans.streamq import (
            stage_table,
        )
        spark = get_spark(app_name="stage_exit", master="local[1]")
        path = stage_table(spark, {sf_dir!r}, "events")
        assert any(f.endswith(".parquet") for f in os.listdir(path))
        spark.stop()
        print(path)
        """
    )
    done = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert done.returncode == 0, done.stderr[-3000:]
    path = done.stdout.strip().splitlines()[-1]
    assert path.startswith(str(tmp_path))
    assert not os.path.exists(path)
