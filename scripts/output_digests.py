"""Check or regenerate ``tests/output_digests.json``, the extractor's
pinned output bytes (corpus and hashing in ``tests/test_output_digests.py``).

    python scripts/output_digests.py           # check both extraction paths
    python scripts/output_digests.py --write   # regenerate the file

Every regeneration is a reviewed change: it says the output bytes moved.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--write", action="store_true", help="regenerate the digest file")
    args = parser.parse_args()
    os.chdir(REPO)  # executors import riptide_spark from the driver's cwd
    from riptide_spark.session import build_session
    from tests import test_output_digests as od

    pages = od.corpus()
    spark = build_session("output-digests")
    spark.sparkContext.setLogLevel("ERROR")
    actual = {
        "extract_one": od.digests(od.extract_one_rows(pages)),
        "extraction_plan": od.digests(od.extraction_plan_rows(spark, pages)),
    }
    spark.stop()
    if args.write:
        od.DIGESTS_PATH.write_text(json.dumps(actual, indent=1, sort_keys=True) + "\n")
        print(f"wrote {od.DIGESTS_PATH}")
        return 0
    expected = json.loads(od.DIGESTS_PATH.read_text())
    bad = [
        f"{path} {line}" for path in actual for line in od.mismatches(expected[path], actual[path])
    ]
    print("\n".join(bad) or "output digests match")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
