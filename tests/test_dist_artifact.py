"""The committed ``dist/ksj2gp_spark.zip`` (the spark-submit
``--py-files`` artifact) is the package as it stands: exactly the
``ksj2gp_spark/**/*.py`` files, byte for byte. Rebuild it with
``python bench/package.py`` after changing the package."""

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_committed_zip_matches_package_sources():
    pkg = os.path.join(REPO, "ksj2gp_spark")
    want = {}
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    want[os.path.relpath(full, REPO)] = fh.read()
    with zipfile.ZipFile(os.path.join(REPO, "dist", "ksj2gp_spark.zip")) as zf:
        got = {n: zf.read(n) for n in zf.namelist()}
    rebuild = "stale dist/ksj2gp_spark.zip: rebuild with python bench/package.py"
    assert sorted(got) == sorted(want), rebuild
    assert [n for n in want if got[n] != want[n]] == [], rebuild
