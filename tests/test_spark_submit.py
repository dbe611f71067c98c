"""North-rule ship vehicle: `spark-submit --py-files engine.zip`.

The rule says the job ships via spark-submit with the engine zipped —
this test actually does it, not just documents it: the package is
zipped, the driver script is copied OUTSIDE the repo, and the
subprocess runs with cwd=tmp so `omniparser_spark` is importable ONLY
from the zip.  A second submit against the same checkpoint must fence
every batch (exactly-once across job restarts, not just within one
driver)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

from omniparser_spark.lake.table import LakeTable
from omniparser_spark.sources.changefeed import FeedSpec, materialize_feed

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_engine(dest: str) -> str:
    zpath = os.path.join(dest, "engine.zip")
    pkg = os.path.join(_REPO, "omniparser_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, _REPO))
    return zpath


def _spark_submit() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-submit")


def test_spark_submit_py_files_apply_and_fence(spark, tmp_path):
    feed_path = str(tmp_path / "feed")
    feed = materialize_feed(
        spark, FeedSpec(n_events=600, n_convs=20, turns_per_conv=8, seed=3),
        feed_path,
    )
    n_feed_rows = feed.count()  # > n_events: includes redelivered dups

    zpath = _zip_engine(str(tmp_path))
    driver = str(tmp_path / "driver.py")
    shutil.copy(os.path.join(_REPO, "omniparser_spark", "__main__.py"),
                driver)

    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # keep the subprocess JVM small; drop any repo-root PYTHONPATH so
    # the zip is the only way to import the package
    env.pop("PYTHONPATH", None)
    cmd = [
        _spark_submit(),
        "--master", "local[2]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zpath,
        driver,
        "--feed", feed_path,
        "--table", str(tmp_path / "table"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--batch-size", "300",
    ]

    r1 = subprocess.run(cmd, cwd=str(tmp_path), env=env,
                        capture_output=True, text=True, timeout=600)
    assert r1.returncode == 0, r1.stderr[-3000:]
    recs = [json.loads(ln) for ln in r1.stdout.splitlines()
            if ln.startswith("{")]
    batches = [r for r in recs if "batch_id" in r]
    assert len(batches) == 2
    assert all(not b["fenced"] for b in batches)
    assert sum(b["events_in"] for b in batches) == n_feed_rows
    # the CLI derives the source-partition domain from the feed, so
    # lineage names every part and needs no overflow entry
    feed_parts = {r[0] for r in feed.select("source_part").distinct().collect()}
    for b in batches:
        assert sum(d["rows"] for d in b["lineage"]) == b["events_in"]
    assert {d["source_part"] for b in batches for d in b["lineage"]} == feed_parts

    table = LakeTable.load(spark, str(tmp_path / "table"))
    rows_after_first = table.read().count()
    assert rows_after_first > 0

    # resubmit the SAME job (crash/retry story): the run resumes from
    # the checkpoint frontier — either it skips everything (no batch
    # records) or any re-attempted batch fences; table state and
    # snapshot version are unchanged either way
    v_before = table.current().version
    r2 = subprocess.run(cmd, cwd=str(tmp_path), env=env,
                        capture_output=True, text=True, timeout=600)
    assert r2.returncode == 0, r2.stderr[-3000:]
    recs2 = [json.loads(ln) for ln in r2.stdout.splitlines()
             if ln.startswith("{")]
    batches2 = [r for r in recs2 if "batch_id" in r]
    assert all(b["fenced"] for b in batches2)
    table2 = LakeTable.load(spark, str(tmp_path / "table"))
    assert table2.current().version == v_before
    assert table2.read().count() == rows_after_first
