"""The spark-submit --py-files deployment path, run for real.

North-rule deployment shape: "run via spark-submit --py-files on a
multi-executor cluster". This test packages stakgraph_spark/ with
scripts/make_pyfiles.sh, launches a genuine `spark-submit --py-files`
subprocess from a cwd OUTSIDE the repo (so the imports can only come
from the shipped zip — exactly what a cluster executor sees), and
asserts the written nodes/edges/triples match the in-process build
byte-for-count. Mirrors the reference's CLI one-shot build entry
(mcp/src/index.ts; standalone/src/main.rs run()).
"""

import json
import os
import subprocess

import pytest

from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


def _import_submit_build():
    import sys

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        import submit_build
    finally:
        sys.path.pop(0)
    return submit_build


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_submit_build_matches_inprocess(spark, tmp_path):
    # package
    subprocess.run(["sh", os.path.join(REPO, "scripts", "make_pyfiles.sh")],
                   check=True, capture_output=True)
    zip_path = os.path.join(REPO, "dist", "stakgraph_spark.zip")
    assert os.path.getsize(zip_path) > 10_000

    out = str(tmp_path / "kg")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[8]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path,
         os.path.join(REPO, "scripts", "submit_build.py"),
         "--input", SF_SMALL, "--output", out],
        cwd=str(tmp_path),  # not the repo: imports must resolve from the zip
        env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    manifest = json.load(open(f"{out}/_build_manifest.json"))
    assert manifest["spark_master"] == "local[8]"

    # counts must equal the in-process build's
    from stakgraph_spark.plans.pipeline import build_from_sf_dir

    stages = build_from_sf_dir(spark, SF_SMALL)
    for name in ("nodes", "edges", "triples"):
        assert manifest["tables"][name] == stages[name].count(), name

    # and triples content must hash-match, not just count-match
    written = spark.read.parquet(f"{out}/triples")
    a = written.selectExpr("bit_xor(xxhash64(subj, pred, obj)) h").collect()[0]["h"]
    b = stages["triples"].selectExpr("bit_xor(xxhash64(subj, pred, obj)) h").collect()[0]["h"]
    assert a == b


def test_submit_table_write_mode(spark, tmp_path):
    # The catalog-table output mode (Iceberg production path; plain
    # V2SessionCatalog here), exercised in-process: the submit
    # transport itself is covered by the subprocess test above.
    import sys

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        import submit_build
    finally:
        sys.path.pop(0)

    # The test env's in-memory catalog forgets tables across session
    # restarts (main() stops the session) while managed locations
    # persist — clear the stale location before each run. A persistent
    # catalog (HMS/Iceberg) has no such desync: there DROP TABLE /
    # createOrReplace handle the re-run, which is the code path under
    # test. Spark's LOCATION_ALREADY_EXISTS message prescribes exactly
    # this cleanup for file-only catalogs.
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def clean():
        shutil.rmtree(os.path.join(wh, "sgtest_kg_triples"), ignore_errors=True)

    out = str(tmp_path / "m")
    argv = ["--input", SF_SMALL, "--output", out,
            "--tables", "triples", "--output-table-prefix", "sgtest_kg"]
    clean()
    assert submit_build.main(argv) == 0
    manifest = json.load(open(f"{out}/_build_manifest.json"))
    assert manifest["tables"]["triples"] > 0
    # re-run end-to-end (createOrReplace → drop/create fallback path)
    clean()
    assert submit_build.main(argv) == 0


def test_submit_resume_dir_mode(spark, tmp_path):
    # --resume-dir routes through the manifest-checkpointed
    # ResumableBuilder; output must equal the single-shot build and a
    # re-submit must skip the completed units (manifest row count
    # unchanged — the repository-hash skip, handlers.rs:112-131).
    submit_build = _import_submit_build()
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "ckpt")
    argv = ["--input", SF_SMALL, "--output", out,
            "--resume-dir", ckpt, "--tables", "edges,triples"]
    assert submit_build.main(argv) == 0
    manifest = json.load(open(f"{out}/_build_manifest.json"))

    from stakgraph_spark.plans.pipeline import build_from_sf_dir
    from stakgraph_spark.session import get_spark
    from stakgraph_spark.streaming.incremental import ResumableBuilder

    spark = get_spark(master="local[8]")  # main() stopped the session
    stages = build_from_sf_dir(spark, SF_SMALL)
    assert manifest["tables"]["edges"] == stages["edges"].count()
    assert manifest["tables"]["triples"] == stages["triples"].count()

    rows_before = ResumableBuilder(ckpt).manifest(spark).count()
    assert submit_build.main(argv) == 0  # re-submit: all units skipped
    spark = get_spark(master="local[8]")
    assert ResumableBuilder(ckpt).manifest(spark).count() == rows_before


def test_submit_triples_projected_from_written_edges(spark, tmp_path):
    # --tables lists triples first on purpose: edges must still be
    # written first, and triples projected from the stored edges
    # instead of running the edge union a second time.
    submit_build = _import_submit_build()
    out = str(tmp_path / "kg")
    assert submit_build.main(["--input", SF_SMALL, "--output", out,
                              "--tables", "triples,edges"]) == 0
    manifest = json.load(open(f"{out}/_build_manifest.json"))
    writes = manifest["writes"]
    assert list(writes) == ["edges", "triples"]
    assert manifest["tables"] == {"edges": writes["edges"]["rows"],
                                  "triples": writes["triples"]["rows"]}
    assert writes["triples"]["rows"] == writes["edges"]["rows"] > 0
    # the projection's write and read-back; re-running the edge union
    # lazily takes dozens of jobs
    assert 0 < writes["triples"]["jobs"] <= 4 < writes["edges"]["jobs"]

    from stakgraph_spark.session import get_spark

    spark = get_spark(master="local[8]")  # main() stopped the session
    trip = spark.read.parquet(f"{out}/triples")
    edges = spark.read.parquet(f"{out}/edges")
    a = trip.selectExpr("bit_xor(xxhash64(subj, pred, obj)) h").collect()[0]["h"]
    b = edges.selectExpr(
        "bit_xor(xxhash64(source_key, edge_type, target_key)) h").collect()[0]["h"]
    assert a == b


class _StubWriter:
    def __init__(self, error, log):
        self.error, self.log = error, log

    def createOrReplace(self):
        self.log.append("createOrReplace")
        raise self.error

    def create(self):
        self.log.append("create")


class _StubFrame:
    def __init__(self, error, log):
        self.writer = _StubWriter(error, log)

    def writeTo(self, table):
        return self.writer


class _StubSession:
    def __init__(self, log):
        self.log = log
        self.read = self

    def sql(self, text):
        self.log.append(text)

    def table(self, name):
        return name


@pytest.mark.parametrize("error", [
    RuntimeError("write failed"),
    "TABLE_OR_VIEW_NOT_FOUND",
], ids=["RuntimeError", "TABLE_OR_VIEW_NOT_FOUND"])
def test_table_write_failure_keeps_existing_table(error):
    # Only the session catalog's "no RTAS" error may fall back to
    # drop + create; any other failure must propagate untouched.
    from pyspark.errors import AnalysisException

    submit_build = _import_submit_build()
    if isinstance(error, str):
        error = AnalysisException(message=error, errorClass=error)
    log = []
    with pytest.raises(type(error)):
        submit_build.write_table(_StubSession(log), _StubFrame(error, log),
                                 "edges", "unused", "kg")
    assert log == ["createOrReplace"]


def test_table_write_falls_back_when_catalog_lacks_rtas():
    from pyspark.errors import AnalysisException

    submit_build = _import_submit_build()
    cond = "UNSUPPORTED_FEATURE.TABLE_OPERATION"
    log = []
    stored = submit_build.write_table(
        _StubSession(log), _StubFrame(AnalysisException(message=cond, errorClass=cond), log),
        "edges", "unused", "kg")
    assert log == ["createOrReplace", "DROP TABLE IF EXISTS kg_edges", "create"]
    assert stored == "kg_edges"
