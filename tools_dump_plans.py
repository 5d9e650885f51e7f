#!/usr/bin/env python
"""Dump .explain("formatted") for named registered queries to files.

Usage: python tools_dump_plans.py <suffix> <query> [<query> ...]
Writes plans/r14/<query>_<suffix>.txt next to this script
Env: SPARK_GRAFT_SF_DIR (default sf0.1)
"""

import contextlib
import io
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from mini_hive_server_spark import registry
from mini_hive_server_spark.session import get_spark


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="mhs-dump-plans")
    qs = registry.queries()
    out_dir = os.path.join(HERE, "plans", "r14")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print("wrote", path, len(buf.getvalue()), "chars")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
