#!/usr/bin/env python
"""Capture .explain('formatted') for registered queries into plans/<tag>/.

Usage:
    python plans.py <tag> before [query ...]   # write plans/<tag>/<q>_before.txt
    python plans.py <tag> after  [query ...]   # write plans/<tag>/<q>_after.txt

With no query names, captures every HEADLINE query from bench.py. 'before'
files are write-once, also with explicit names, so the evidence taken before
a change cannot be clobbered; 'after' files are rewritten on every run.
The testdata dir (normally sf0.1) comes from SPARK_GRAFT_SF_DIR.

Note: queries whose construction is eager (ann_recall_report collects its
rows driver-side) explain as a LocalTableScan.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.abspath(__file__))


def capture(df, path: str) -> None:
    # The same JVM hook DataFrame.explain("formatted") prints through,
    # captured as a string instead of stdout.
    s = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(path, "w") as f:
        f.write(s)
    print(f"wrote {os.path.relpath(path, REPO)} ({len(s)} chars)")


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    tag, stage, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or sys.exit(
        "set SPARK_GRAFT_SF_DIR to the testdata dir (normally sf0.1)"
    )
    out = os.path.join(REPO, "plans", tag)
    os.makedirs(out, exist_ok=True)

    from bench import HEADLINE
    from datafusion_dedup_ai_spark.session import build_session
    import __spark_entry__ as entry_mod

    spark = build_session(app_name=f"plans-{tag}-{stage}")
    qs = entry_mod.queries()
    for name in names or HEADLINE:
        path = os.path.join(out, f"{name}_{stage}.txt")
        if stage == "before" and os.path.exists(path):
            print(f"skip {name} (before exists)")
            continue
        capture(qs[name](spark, sf_dir), path)
    spark.stop()


if __name__ == "__main__":
    main()
