"""Capture .explain("formatted") for every headline query.

Writes ``plans/r12/<name>_<tag>.txt`` for each headline query (tag =
``before``/``after`` via argv). The plan captured is the one bench.py
times (``queries.timed_thunk``: split queries run their untimed setup
first). Optionally restrict to a subset:
``python tools/capture_plans.py before [query ...]``.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    out_dir = os.path.join(ROOT, "plans", "r12")
    os.makedirs(out_dir, exist_ok=True)

    from etl_lens_spark import get_spark
    from etl_lens_spark.queries import headline_queries, timed_thunk

    spark = get_spark(app_name=f"etl-lens-plans-{tag}")
    for name in headline_queries():
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"plan: {name}")
        try:
            df = timed_thunk(name, spark, SF_DIR)()
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # noqa: BLE001 — record, keep going
            text = f"ERROR capturing plan: {e!r}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)", flush=True)
    spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
