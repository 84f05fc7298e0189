"""Dump .explain('formatted') for named registered queries into
plans/r14/<query>_<tag>.txt — the optimization round's plan-diff
receipts (OPTIMIZATION_r14.md). Run from any checkout/worktree:

    python tools/gen_r14_plans.py <tag> <outdir> <query> [<query> ...]

``before`` tags are generated from a git worktree of the pre-change
commit; ``after`` tags from HEAD — same tool, so the diffs are
apples-to-apples. sf dir: $SPARK_GRAFT_SF_DIR (default sf0.1, the bench
scale)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vat_etl_spark.plans import formatted_plan  # noqa: E402
from vat_etl_spark.queries import QUERIES  # noqa: E402
from vat_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag, outdir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("gen_r14_plans")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df))
        print("wrote", path)


if __name__ == "__main__":
    main()
