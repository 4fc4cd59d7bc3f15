"""The package zip shipped to Python workers must carry the code in the
working tree: its name is a content hash of the package sources, so an
edited source is shipped under a new name instead of reusing a zip left
in the temp dir by older code."""

from __future__ import annotations

import shutil
from pathlib import Path

import calp_cva_tracking_pipeline_spark as pkg
from calp_cva_tracking_pipeline_spark.session import _package_zip_name


def _name(pkg_dir: Path) -> str:
    return _package_zip_name(pkg_dir, sorted(pkg_dir.rglob("*.py")))


def test_one_changed_source_byte_changes_the_shipped_name(tmp_path):
    src = Path(pkg.__file__).resolve().parent
    copy = tmp_path / src.name
    shutil.copytree(src, copy, ignore=shutil.ignore_patterns("__pycache__"))
    before = _name(copy)
    assert before == _name(src)
    assert before.startswith("calp_cva_pkg_") and before.endswith(".zip")

    target = copy / "operators" / "similarity.py"
    data = bytearray(target.read_bytes())
    data[-1] ^= 1
    target.write_bytes(bytes(data))
    assert _name(copy) != before

    data[-1] ^= 1
    target.write_bytes(bytes(data))
    assert _name(copy) == before


def test_a_renamed_source_changes_the_shipped_name(tmp_path):
    src = Path(pkg.__file__).resolve().parent
    copy = tmp_path / src.name
    shutil.copytree(src, copy, ignore=shutil.ignore_patterns("__pycache__"))
    before = _name(copy)
    (copy / "operators" / "sketch.py").rename(copy / "operators" / "sketch2.py")
    assert _name(copy) != before


def test_ship_package_adds_the_zip_named_for_the_current_sources(
    tmp_path, monkeypatch
):
    import tempfile
    import zipfile
    from types import SimpleNamespace

    from calp_cva_tracking_pipeline_spark.session import _ship_package

    added = []
    sc = SimpleNamespace(addPyFile=added.append)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    _ship_package(SimpleNamespace(sparkContext=sc))
    _ship_package(SimpleNamespace(sparkContext=sc))  # once per context

    src = Path(pkg.__file__).resolve().parent
    assert added == [str(tmp_path / _name(src))]
    with zipfile.ZipFile(added[0]) as zf:
        member = f"{src.name}/operators/similarity.py"
        assert zf.read(member) == (src / "operators" / "similarity.py").read_bytes()


def test_get_spark_ships_the_package_to_python_workers(tmp_path):
    """A driver run outside the repo root, on a session from ``get_spark``,
    runs an ``applyInPandas`` operator: its Python workers import the
    package from the shipped zip, since they do not see the driver's
    ``sys.path``."""
    import os
    import subprocess
    import sys
    import textwrap

    root = Path(pkg.__file__).resolve().parent.parent
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import datetime as dt
        import sys

        sys.path.insert(0, {str(root)!r})
        from calp_cva_tracking_pipeline_spark.operators.temporal import (
            holt_smooth,
        )
        from calp_cva_tracking_pipeline_spark.session import get_spark

        spark = get_spark(cpus="2", shuffle_partitions=2)
        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(1, i, t0 + dt.timedelta(hours=i), float(i)) for i in range(4)],
            "user_id long, event_id long, ts timestamp, value double",
        )
        rows = holt_smooth(df, ["user_id"], "ts", "value", "event_id")
        print("ROWS", len(rows.collect()))
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert "ROWS 4" in run.stdout
