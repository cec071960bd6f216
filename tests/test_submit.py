"""End-to-end spark-submit --py-files smoke (the north rule's ship
path): package the library, submit the job from a foreign cwd so ONLY
the zip provides the code, verify ordered output, then a --resume run."""

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _submit(job: str, args: list[str], cwd) -> None:
    """spark-submit one job at local[4] with the launch flags its usage
    gives, plus one --conf that must win over the engine's value; assert
    the session the job printed."""
    from yomitoku_spark.session import engine_conf

    zip_path = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "make_pyfiles.py")],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    spark_submit = os.path.join(os.path.dirname(sys.executable), "spark-submit")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    want = engine_conf()
    cmd = [
        spark_submit, "--master", "local[4]",
        "--driver-memory", want["spark.driver.memory"],
        "--driver-java-options", want["spark.driver.extraJavaOptions"],
        "--conf", f"{BATCH}=1000",
        "--py-files", zip_path,
        os.path.join(ROOT, "jobs", job),
    ] + args
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=cwd,
                       env=env, timeout=420)
    assert p.returncode == 0, p.stderr[-3000:]
    got = json.loads(next(ln for ln in p.stdout.splitlines() if ln.startswith("{")))
    assert got.pop("master") == "local[4]"
    assert got.pop("spark.sql.shuffle.partitions") == "4"
    assert got.pop(BATCH) == "1000"
    del want[BATCH]
    # Spark puts its own JVM module options in front of the driver's flags
    java = "spark.driver.extraJavaOptions"
    assert got.pop(java).endswith(" " + want.pop(java))
    assert got == want


@pytest.mark.slow
def test_spark_submit_pyfiles(spark, tmp_path):
    from yomitoku_spark.datagen import transcripts_df
    from yomitoku_spark.plans.pipeline import extract

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    out_dir2 = str(tmp_path / "out_resume")
    tdf = transcripts_df(spark, n_convs=6, seed=42)
    tdf.write.parquet(in_dir)
    want = extract(tdf).count()

    for resume, out in ((False, out_dir), (True, out_dir2)):
        _submit("run_extract.py", ["--input", in_dir, "--output", out, "--partitions", "8"]
                + (["--resume", "--n-buckets", "8"] if resume else []), tmp_path)

    got = spark.read.parquet(out_dir)
    assert got.count() == want
    # ordered write: the part files, in name order, hold the rows sorted
    # by (conv_id, turn_idx)
    parts = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))  # not .crc/_SUCCESS
    keys = [
        (r["conv_id"], r["turn_idx"])
        for f in parts
        for r in pq.read_table(os.path.join(out_dir, f), columns=["conv_id", "turn_idx"]).to_pylist()
    ]
    assert len(keys) == want and keys == sorted(keys)
    from yomitoku_spark.plans.checkpoint import read_result, read_state

    res = read_result(spark, out_dir2)
    assert res.count() == want
    state = read_state(spark, out_dir2)
    assert state.filter("status = 'done'").count() == 8


@pytest.mark.slow
def test_spark_submit_extract_fields_job(spark, tmp_path):
    """yomitoku_extract analog: YAML schema + layout cells parquet →
    resolved fields, shipped via --py-files from a foreign cwd."""
    from yomitoku_spark.sources.layout import form_cells

    cells_dir = str(tmp_path / "cells")
    out_dir = str(tmp_path / "fields_out")
    form_cells(spark, "/root/testdata/sf0.001").write.parquet(cells_dir)
    schema_path = str(tmp_path / "schema.yaml")
    with open(schema_path, "w") as f:
        f.write(
            "fields:\n"
            "  - name: first_h\n    cell_id: h0\n"
            "  - name: supplier\n    description: 'Supplier#'\n"
            "  - name: digits\n    regex: '[0-9]{3,}'\n"
        )

    _submit("run_extract_fields.py",
            ["--cells", cells_dir, "--schema", schema_path, "--output", out_dir], tmp_path)

    got = {(r.doc_id, r.field): (r.value, r.source) for r in
           spark.read.parquet(out_dir).collect()}
    assert got[(0, "first_h")] == ("hkey0", "cell_id")
    assert got[(0, "supplier")][1] == "cell_query"
    assert got[(0, "digits")][1] == "regex"
