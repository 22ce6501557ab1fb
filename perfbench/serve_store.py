"""Load a store with the package's ``run-etl`` command, then serve it with
its ``serve-dashboard`` command, in one process: one JVM start, not two.

  python3 perfbench/serve_store.py <run-etl arguments> -- <serve-dashboard arguments>

Run from the root of a checkout. Exits with the first non-zero status.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from assignment_etl_spark.cli import main  # noqa: E402

split = sys.argv.index("--")
rc = main(["run-etl", *sys.argv[1:split]])
sys.stdout.flush()
raise SystemExit(rc or main(["serve-dashboard", *sys.argv[split + 1:]]))
