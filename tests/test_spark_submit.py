"""End-to-end launch-shape test (north rule): package the library,
run the production pipeline via ``spark-submit --py-files``, and
resume it — every pipeline run is a real subprocess; the pytest Spark
session only writes a pages table and reads the sinks back.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SEMIDYNA, SF_TINY

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAR_TEXT = (
    "\n" * 15
    + "MeshCode dB(sec)  dL(sec) dH(m)\n"
    + "".join(
        f"{c:8d} {a:9.5f} {b:9.5f} {h:9.5f}\n"
        for c, (a, b, h) in sorted(SEMIDYNA.items())
    )
)


def _submit(zip_path, out_dir, par_path, extra=()):
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    # drop any repo-path PYTHONPATH so ONLY the zip provides the
    # library — proving the --py-files closure is complete
    env.pop("PYTHONPATH", None)
    cmd = [
        "/opt/spark/bin/spark-submit",
        "--master", "local[2]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", zip_path,
        os.path.join(ROOT, "scripts", "run_pipeline.py"),
        "--par", par_path, "--format", "SemiDynaEXE",
        "--output", out_dir, "--n-groups", "4",
        *(extra or ("--input", SF_TINY)),
    ]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=420,
                         env=env, cwd="/tmp")
    assert res.returncode == 0, res.stderr[-3000:]
    line = [l for l in res.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    zip_path = str(tmp_path / "jgdtrans_rs_spark.zip")
    pkg = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "package_pyfiles.py"), zip_path],
        capture_output=True, text=True, timeout=60)
    assert pkg.returncode == 0 and os.path.exists(zip_path), pkg.stderr

    par = tmp_path / "semidyna.par"
    par.write_text(PAR_TEXT)
    out_dir = str(tmp_path / "out")

    first = _submit(zip_path, out_dir, str(par))
    assert first["rows"] > 0 and len(first["groups_written"]) == 4

    # resume: a second run over the same output skips every completed
    # group (manifests are the commit markers)
    second = _submit(zip_path, out_dir, str(par))
    assert second["groups_written"] == []

    # --input also takes a parquet pages table (sources/tables.py):
    # the sf dir's own pages give the same summary and the same rows
    from jgdtrans_rs_spark.sources import pages as pages_src
    from jgdtrans_rs_spark.sources import sink
    table = str(tmp_path / "pages_table")
    pages_src.synth_pages(spark, SF_TINY).write.parquet(table)
    table_out = str(tmp_path / "table_out")
    assert _submit(zip_path, table_out, str(par),
                   extra=("--input", table)) == first

    def rows(out):
        return sorted(map(repr, sink.read_resumed(spark, out).collect()))

    assert rows(table_out) == rows(out_dir)

    # the same submitted job ingests raw crawl archives via --warc
    # (the zip must carry sources/warc.py too)
    from jgdtrans_rs_spark.sources.warc import encode_warc_bytes
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    html = (b'<html><head><meta name="geo.position" '
            b'content="36.10377479;140.087855041"></head>'
            b"<body>warc page</body></html>")
    (crawl / "seg.warc.gz").write_bytes(encode_warc_bytes([
        {"rec_type": "response", "url": "http://w.example/1",
         "ts": "2024-01-01T00:00:00Z", "payload": html},
    ], gzip_members=True))
    warc_out = str(tmp_path / "warc_out")
    res = _submit(zip_path, warc_out, str(par),
                  extra=("--warc", str(crawl)))
    assert res["rows"] == 1 and res["ok"] == 1
