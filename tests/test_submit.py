"""spark-submit --py-files packaging smoke (north rule Phase 5): the job
must run OUTSIDE the repo cwd with only the zip on the python path."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pyfiles_zip() -> str:
    out = subprocess.run(
        [sys.executable, str(REPO / "scripts/make_pyfiles.py")],
        capture_output=True,
        text=True,
        check=True,
    )
    return out.stdout.strip().splitlines()[-1]


def test_spark_submit_pyfiles_runs_and_resumes(spark, tmp_path, pyfiles_zip):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    pages_path = str(tmp_path / "pages.parquet")
    from ai_service_ocr_grading_handler_spark.corpus import pages_df_from_documents

    pages_df_from_documents(spark, SF).write.parquet(pages_path)
    n = spark.read.parquet(pages_path).count()

    out_root = str(tmp_path / "job")
    # run from a NEUTRAL cwd: only --py-files provides the package
    script = str(REPO / "scripts/run_extract.py")

    def submit(run_id: str) -> dict:
        r = subprocess.run(
            [
                spark_submit,
                "--master",
                "local[4]",
                "--py-files",
                pyfiles_zip,
                script,
                "--pages",
                pages_path,
                "--out",
                out_root,
                "--run-id",
                run_id,
            ],
            capture_output=True,
            text=True,
            cwd=str(tmp_path),
            timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
        return json.loads(line)

    m1 = submit("run-001")
    assert m1["rows_written"] == n
    m2 = submit("run-002")  # resume: no-op
    assert m2["rows_written"] == 0


def test_spark_submit_master_and_memory_win(tmp_path):
    """Under spark-submit the JVM is already launched with the submitted
    sizing: get_spark must keep that master and heap, not its own."""
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    probe = tmp_path / "probe.py"
    probe.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {str(REPO)!r})
            from ai_service_ocr_grading_handler_spark.session import get_spark
            spark = get_spark(cpus=3)
            conf = spark.sparkContext.getConf()
            print("PROBE", spark.sparkContext.master, conf.get("spark.driver.memory"))
            spark.stop()
            """
        )
    )
    r = subprocess.run(
        [spark_submit, "--master", "local[2]", "--driver-memory", "1g", str(probe)],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = [l for l in r.stdout.splitlines() if l.startswith("PROBE ")][-1]
    assert line.split()[1:] == ["local[2]", "1g"]
