"""Dump .explain('formatted') for queries to plans/<tag>/<name>_<suffix>.txt.

Usage:
    python tools/explain_dump.py <tag> <suffix> <query> [query ...]

The dump runs at sf0.01 (plan shape is scale-invariant for these
fixtures; the sf only changes AQE's runtime stats, and explain()
prints the initial plan anyway).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from innercircle_etl_spark.plans import QUERIES  # noqa: E402
from innercircle_etl_spark.session import drop_query_caches, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"explain_{tag}")
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
        drop_query_caches(spark)
    spark.stop()


if __name__ == "__main__":
    main()
