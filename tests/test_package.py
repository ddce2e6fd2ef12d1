"""Packaging: every bundled data file ships with the code.

The code reads files under ``bib_dedupe_spark/data/`` at run time (the
journal-variants table, the canonical journal names), so both the
``--py-files`` zip and the wheel's package-data must carry all of them.
"""
import fnmatch
import os
import subprocess
import sys
import tomllib
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
DATA = REPO / "bib_dedupe_spark" / "data"


def _data_files() -> set:
    files = {
        str(Path(root, name).relative_to(DATA.parent))
        for root, _dirs, names in os.walk(DATA)
        for name in names
    }
    assert files
    return files


def test_py_files_zip_ships_all_data(tmp_path):
    zip_path = tmp_path / "bib_dedupe_spark.zip"
    subprocess.run(
        [sys.executable, str(REPO / "scripts" / "package.py"), str(zip_path)],
        check=True,
        capture_output=True,
    )
    shipped = set(zipfile.ZipFile(zip_path).namelist())
    missing = {
        f"bib_dedupe_spark/{name}" for name in _data_files()
    } - shipped
    assert not missing


def test_package_data_globs_cover_all_data():
    conf = tomllib.loads((REPO / "pyproject.toml").read_text())
    globs = conf["tool"]["setuptools"]["package-data"]["bib_dedupe_spark"]
    uncovered = {
        name
        for name in _data_files()
        if not any(fnmatch.fnmatch(name, g) for g in globs)
    }
    assert not uncovered
