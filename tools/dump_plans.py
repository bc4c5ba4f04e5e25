#!/usr/bin/env python
"""Dump .explain("formatted") for every inventory query into
plans/r<N>/<query>_<suffix>.txt (optimization-round evidence files).

Usage: PYTHONPATH=. python tools/dump_plans.py --round N before [query ...]
"""

from __future__ import annotations

import argparse
import io
import os
from contextlib import redirect_stdout


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True,
                    help="optimization round N: plans land in plans/r<N>/")
    ap.add_argument("suffix", nargs="?", default="before")
    ap.add_argument("queries", nargs="*", help="default: every inventory query")
    args = ap.parse_args()

    from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
    from open_data_lakehouse_demo_spark.session import get_spark
    from open_data_lakehouse_demo_spark.sources.io import DEFAULT_SF_DIR

    spark = get_spark(app_name=f"plans-{args.suffix}", cpus=8)
    names = args.queries or list(QUERIES)

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", f"r{args.round}",
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = QUERIES[name].spark(spark, DEFAULT_SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(out_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
            print("ok", name, flush=True)
        except Exception as exc:  # keep going; report at the end
            print("FAIL", name, repr(exc)[:200], flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
