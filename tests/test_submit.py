"""spark-submit --py-files launch-shape smoke (north-rule: the build is
launched via spark-submit with the package shipped as a zip).

Runs scripts/submit_build.py as a REAL spark-submit subprocess from a scratch
cwd with the repo absent from PYTHONPATH, so the driver-side
``import statschat_ke_spark`` can only be satisfied by the --py-files zip —
proving the deployment artifact is self-contained, not accidentally served by
the checkout. The built index is then queried in-process and checked against
an in-process build of the same input (byte-identical posting bytes ⇒ equal
top-k, asserted on results).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DOCS = "/root/testdata/sf0.001/documents.parquet"


def _spark_submit_bin() -> str:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    import shutil

    found = shutil.which("spark-submit")
    if found:
        return found
    pytest.skip("no spark-submit binary available")


def _zip_package(dest: str) -> str:
    pkg_root = os.path.join(REPO, "statschat_ke_spark")
    zpath = os.path.join(dest, "statschat_ke_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg_root):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


def _submit_and_compare(spark, tmp_path, chunks: int) -> None:
    """Run submit_build.py under spark-submit with ``--chunks chunks``; the
    built index must answer like an in-process build of the same input."""
    zpath = _zip_package(str(tmp_path))
    idx = str(tmp_path / "submit_idx")
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_HOME")
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [
            _spark_submit_bin(),
            "--master", "local[4]",
            "--py-files", zpath,
            os.path.join(REPO, "scripts", "submit_build.py"),
            "--input", SF_DOCS,
            "--index-dir", idx,
            "--chunks", str(chunks),
        ],
        capture_output=True, text=True, timeout=600,
        cwd=str(tmp_path),  # NOT the repo: the zip must satisfy the import
        env=env,
    )
    result = None
    for line in out.stdout.splitlines():
        try:
            cand = json.loads(line)
        except ValueError:
            continue
        if isinstance(cand, dict) and "n_docs" in cand:
            result = cand
    assert result is not None, f"no result JSON\n{out.stdout[-2000:]}\n{out.stderr[-3000:]}"
    assert result["n_docs"] > 0
    assert result["chunks_processed"] == chunks

    # the submitted build answers queries identically to an in-process build
    from statschat_ke_spark.index.build import build_index
    from statschat_ke_spark.index.query import topk

    local_idx = str(tmp_path / "local_idx")
    build_index(spark, spark.read.parquet(SF_DOCS), local_idx)
    q = "statistics county report"
    got = topk(spark, idx, q, 10).toPandas()
    want = topk(spark, local_idx, q, 10).toPandas()
    assert got.equals(want)


@pytest.mark.skipif(not os.path.exists(SF_DOCS), reason="sf0.001 testdata absent")
def test_spark_submit_py_files_build(spark, tmp_path):
    _submit_and_compare(spark, tmp_path, 1)


@pytest.mark.skipif(not os.path.exists(SF_DOCS), reason="sf0.001 testdata absent")
def test_spark_submit_chunked_build(spark, tmp_path):
    """``--chunks 2`` passes the input PATH to build_index, so chunks are cut
    at the file listing (here one file: slice 1 has none and stages
    nothing)."""
    _submit_and_compare(spark, tmp_path, 2)
