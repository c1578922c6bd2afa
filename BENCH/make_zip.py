"""Build BENCH/engine.zip for spark-submit --py-files.

usage: python BENCH/make_zip.py [OUT_ZIP]   (default: BENCH/engine.zip)
"""

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(out=None):
    out = out or os.path.join(REPO, "BENCH", "engine.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(REPO, "magneto_matcher_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    print(out)


if __name__ == "__main__":
    main(*sys.argv[1:2])
