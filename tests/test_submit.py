"""spark-submit --py-files deployment surface (north rule: the pipeline
runs via ``spark-submit --py-files`` on a multi-executor cluster).

Builds dist/kgspark.zip, then launches tools/submit_job.py through real
``spark-submit`` from a scratch cwd with the repo stripped from
PYTHONPATH — so the ``kgspark`` import genuinely resolves from the zip,
the way cluster executors would see it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


def _build_zip(tmp_path) -> str:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py"),
         str(tmp_path / "kgspark.zip")],
        capture_output=True, text=True, check=True,
    )
    return out.stdout.strip().splitlines()[-1]


def test_pyfiles_zip_contains_package(tmp_path):
    zip_path = _build_zip(tmp_path)
    names = zipfile.ZipFile(zip_path).namelist()
    assert "kgspark/__init__.py" in names
    assert "kgspark/plans/pipeline.py" in names
    assert all(n.startswith("kgspark/") and n.endswith(".py") for n in names)
    # deterministic build: same bytes on rebuild
    with open(zip_path, "rb") as fh:
        first = fh.read()
    zip_path2 = _build_zip(tmp_path)
    with open(zip_path2, "rb") as fh:
        assert fh.read() == first


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pipeline_from_zip(tmp_path, spark):
    """End-to-end: generate a small corpus, run the pipeline under
    spark-submit with kgspark importable only from --py-files."""
    from kgspark import datagen

    src = str(tmp_path / "src")
    datagen.write_corpus(spark, datagen.generate_corpus(n_pages=60, seed=7), src)

    zip_path = _build_zip(tmp_path)
    env = dict(os.environ)
    # strip the repo from import resolution: only the zip provides kgspark
    env["PYTHONPATH"] = ""
    env.pop("KGSPARK_MASTER", None)
    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--driver-memory", "4g",
         "--py-files", zip_path,
         os.path.join(REPO, "tools", "submit_job.py"),
         "pipeline", "--src", src, "--out", str(tmp_path / "out"),
         "--snapshot", "submit-test", "--n-buckets", "8"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = json.loads(r.stdout.strip().splitlines()[-1])
    assert line["docs"] == 60
    assert line["triples"] > 0
    # no --master-hint given: spark-submit's own --master must win
    # (get_spark must NOT override it with a local[N] default)
    assert line["master"] == "local[4]"
    # outputs are real tables readable by any session
    triples = spark.read.parquet(str(tmp_path / "out" / "triples"))
    assert triples.count() == line["triples"]
