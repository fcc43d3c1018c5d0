"""Dump .explain("formatted") for every catalog query to a directory.

Usage: python tools/dump_plans.py <out_dir> [sf_dir] [suffix] [name ...]

Writes <out_dir>/<query>_<suffix>.txt (suffix default "before").
Regenerates the plan evidence the r09/r10 optimization notes cite; those
dumps are not committed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    suffix = sys.argv[3] if len(sys.argv) > 3 else "before"
    only = set(sys.argv[4:])
    os.makedirs(out_dir, exist_ok=True)

    from mrbf_spark.session import get_spark
    from mrbf_spark import catalog
    from mrbf_spark.registry import release_scoped_caches

    spark = get_spark("plan-dump")
    qs = dict(catalog.queries())
    # builder-tier keys (r10): plan evidence for bench-only entries
    # (text_semdedup, contrastive_triplets, …) rides the same tool
    import bench

    for n_, fn_ in bench.legacy_builders().items():
        if fn_ is not None:
            qs.setdefault(n_, fn_)
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # pragma: no cover - tooling
            plan = f"ERROR {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        release_scoped_caches()
        print(f"dumped {name}", file=sys.stderr)


if __name__ == "__main__":
    main()
