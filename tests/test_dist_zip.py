"""The spark-submit --py-files zip built by tools/make_pyfiles_zip.py
must hold exactly the package tree, byte for byte — a zip missing a
module or carrying a stale one silently ships a different engine to the
cluster."""

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _source_files():
    pkg = os.path.join(REPO, "data_validation_spark")
    out = {}
    for root, _dirs, files in os.walk(pkg):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, REPO)] = fh.read()
    return out


def test_dist_zip_matches_source_tree(tmp_path):
    out = tmp_path / "data_validation_spark.zip"
    subprocess.run([sys.executable, os.path.join(REPO, "tools",
                                                 "make_pyfiles_zip.py"),
                    str(out)], check=True, capture_output=True)
    src = _source_files()
    with zipfile.ZipFile(out) as z:
        names = set(z.namelist())
        assert names == set(src), (
            f"zip file-set drifted: only-in-zip={sorted(names - set(src))} "
            f"only-in-src={sorted(set(src) - names)}")
        for name, body in src.items():
            assert z.read(name) == body, f"{name} inside the zip differs"
