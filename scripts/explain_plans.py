"""Print formatted physical plans for the headline queries and grep the
evidence that matters at scale: parquet PushedFilters / ReadSchema (pushdown
+ pruning), WholeStageCodegen spans, join strategies, exchange counts.

Usage: python scripts/explain_plans.py [sf_dir] [query ...]
Writes PLANS.md at the repo root. With query names, only their ``## <name>``
sections are replaced (or appended); the rest of PLANS.md is kept.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import importlib.util

    spec = importlib.util.spec_from_file_location("entrymod", os.path.join(REPO, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    from geopull_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    header = "# PLANS — physical plan evidence (generated by scripts/explain_plans.py)\n"
    sections: dict[str, list] = {}
    skip = {"blocks_build", "doc_block_assign", "knn_blocks", "zonal_population"}  # pipeline-heavy
    for name, fn in m.queries().items():
        if only and name not in only:
            continue
        if not only and name in skip:
            continue
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:
            sections[name] = [f"## {name}\nERROR: {e}\n"]
            continue
        pushed = [ln.strip() for ln in plan.splitlines() if "PushedFilters" in ln or "ReadSchema" in ln]
        codegen = sum(1 for ln in plan.splitlines() if "WholeStageCodegen" in ln and "(" in ln)
        exchanges = sum(1 for ln in plan.splitlines() if ln.strip().startswith("Exchange") or "+- Exchange" in ln)
        joins = [ln.strip().split()[0] for ln in plan.splitlines() if "Join" in ln and ("Broadcast" in ln or "SortMerge" in ln or "ShuffledHash" in ln)]
        out = sections[name] = [f"## {name}\n"]
        out.append(f"- exchanges (shuffles): {exchanges}; join ops: {joins or 'none'}")
        for p in pushed[:6]:
            out.append(f"- `{p[:160]}`")
        out.append("\n<details><summary>full plan</summary>\n\n```\n" + plan[:6000] + "\n```\n</details>\n")
    path = os.path.join(REPO, "PLANS.md")
    text = {n: "\n".join(out) for n, out in sections.items()}
    if only and os.path.exists(path):
        with open(path) as f:
            old = re.split(r"^(?=## )", f.read(), flags=re.M)
        header, kept = old[0].rstrip("\n") + "\n", {}
        for sec in old[1:]:
            kept[sec.split(None, 2)[1]] = sec.rstrip("\n") + "\n"
        text = {**kept, **text}
    with open(path, "w") as f:
        f.write("\n".join([header] + list(text.values())))
    print(f"wrote PLANS.md ({len(sections)} of {len(text)} sections refreshed)")


if __name__ == "__main__":
    main()
