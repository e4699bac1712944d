"""Build the spark-submit --py-files zip of the package.

    python tools/make_pyfiles_zip.py [OUT]   # default dist/data_validation_spark.zip
"""

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "dist", "data_validation_spark.zip")


def main(out: str = OUT) -> None:
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    pkg = os.path.join(REPO, "data_validation_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    print(out)


if __name__ == "__main__":
    main(*sys.argv[1:2])
