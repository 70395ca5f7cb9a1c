"""Dump .explain("formatted") for named catalog entries to plans/r11/.

Usage: python tools/explain_one.py <suffix> query [query ...]
Writes plans/r11/<query>_<suffix>.txt for each query (suffix: before|after).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pw_etl_scrumptious_squad_spark import catalog as catmod
from pw_etl_scrumptious_squad_spark.session import get_spark


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="explain-one")
    spark.sparkContext.setLogLevel("ERROR")
    cat = catmod.catalog()
    out_dir = os.path.join(ROOT, "plans", "r11")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = cat[name].build(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path} ({buf.getvalue().count('Exchange')} Exchange mentions)")


if __name__ == "__main__":
    main()
