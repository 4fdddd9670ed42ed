#!/usr/bin/env python3
"""List product `def`s that nothing calls.

A product def (a `def` in a file tools/src_lines.py counts as product)
is reported when its name, as a whole word, appears on no line of
src/main, src/test or perfbench/src other than its own definition line.
`override` defs (called through their parent type) and extractor
`unapply`/`unapplySeq`s (called by pattern matches) are skipped.

Prints one `path:line: name` per uncalled def and nothing when every
def has a caller; exits 1 if it printed anything.

Usage: python3 tools/uncalled_defs.py [REPO_DIR]
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from src_lines import is_product  # noqa: E402

SEARCH_ROOTS = ("src/main", "src/test", "perfbench/src")
SOURCE_EXTS = (".scala", ".java")
DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
SKIPPED_NAMES = ("unapply", "unapplySeq")


def source_files(repo):
    for root in SEARCH_ROOTS:
        for d, _, files in os.walk(os.path.join(repo, root)):
            for name in sorted(files):
                if name.endswith(SOURCE_EXTS):
                    yield os.path.join(d, name)


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    main_root = os.path.join(repo, "src", "main", "scala")
    lines = {}
    defs = []
    for path in source_files(repo):
        with open(path, encoding="utf-8") as f:
            lines[path] = f.read().split("\n")
        rel = os.path.relpath(path, main_root).replace(os.sep, "/")
        if rel.startswith("..") or not is_product(rel):
            continue
        for i, line in enumerate(lines[path]):
            code = line.split("//", 1)[0]
            if code.lstrip().startswith("*"):
                continue
            for m in DEF.finditer(code):
                if "override" not in code[:m.start()] and m.group(1) not in SKIPPED_NAMES:
                    defs.append((path, i, m.group(1)))

    words = {}
    for path, body in lines.items():
        for i, line in enumerate(body):
            for w in set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", line)):
                words.setdefault(w, []).append((path, i))

    found = 0
    for path, i, name in defs:
        if all(site == (path, i) for site in words.get(name, [])):
            print(f"{os.path.relpath(path, repo)}:{i + 1}: {name}")
            found += 1
    sys.exit(1 if found else 0)


if __name__ == "__main__":
    main()
