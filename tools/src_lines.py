#!/usr/bin/env python3
"""Print the src/main Scala line counts, split into product and harness.

Product is what ProductBoundarySpec checks (the graft.{core, sources,
plans, functions, operators, streaming} packages) plus graft/Graft.scala
and org/apache/spark/sql/GraftColumnShim.scala; harness is every other
src/main Scala file (gates, fixtures, mains). Lines are counted as
`wc -l` counts them.

Usage: python3 tools/src_lines.py [REPO_DIR]
"""
import os
import sys

PRODUCT_PACKAGES = ("core", "sources", "plans", "functions", "operators", "streaming")
PRODUCT_FILES = ("graft/Graft.scala", "org/apache/spark/sql/GraftColumnShim.scala")


def is_product(rel):
    parts = rel.split("/")
    return rel in PRODUCT_FILES or (
        len(parts) > 2 and parts[0] == "graft" and parts[1] in PRODUCT_PACKAGES)


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    root = os.path.join(repo, "src", "main", "scala")
    totals = {"product": 0, "harness": 0}
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                path = os.path.join(d, name)
                with open(path, "rb") as f:
                    n = f.read().count(b"\n")
                rel = os.path.relpath(path, root).replace(os.sep, "/")
                totals["product" if is_product(rel) else "harness"] += n
    print(f"product {totals['product']:,}")
    print(f"harness {totals['harness']:,}")
    print(f"total   {totals['product'] + totals['harness']:,}")


if __name__ == "__main__":
    main()
