"""Dump the formatted physical plan of every bench headline query to
PLANS.md — reviewable evidence that filters push down, columns prune,
dims broadcast, and codegen covers the hot pipelines.

Usage: python tools/explain_all.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE  # noqa: E402
from pw_etl_scrumptious_squad_spark import catalog as catmod  # noqa: E402
from pw_etl_scrumptious_squad_spark.session import get_spark  # noqa: E402


# Hand-written narrative above this marker survives regeneration; the
# auto-dumped plans below it are replaced on every run.
MARKER = "<!-- PLANS:AUTO -->"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain-all")
    spark.sparkContext.setLogLevel("ERROR")
    cat = catmod.catalog()
    try:
        current = open(os.path.join(ROOT, "PLANS.md")).read()
        preamble = current.split(MARKER)[0].rstrip() + "\n\n" if MARKER in current else ""
    except FileNotFoundError:
        preamble = ""
    out = [
        preamble + MARKER,
        "",
        "# Physical plans — bench headline queries",
        "",
        f"Generated by `python tools/explain_all.py {sf_dir}`. Things to",
        "look for: `PushedFilters` on scans, `ReadSchema` listing only used",
        "columns, `BroadcastHashJoin` for dim joins, no `CartesianProduct`,",
        "partial aggregation before exchanges.",
        "",
    ]
    for name in HEADLINE:
        df = cat[name].build(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINE)} queries)")


if __name__ == "__main__":
    main()
