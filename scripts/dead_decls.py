#!/usr/bin/env python3
"""List src/main declarations that nothing outside their own declaration uses.

For every `def`, `val`, `var`, `object`, `class`, `trait` and `type` declared
in src/main, count the whole-word occurrences of its name in src/main,
src/test and perfbench/src (code, comments and strings alike), minus one
for each line that declares that name. Prints one line per hit, as file:line:

  UNREF     the name appears nowhere else
  TESTONLY  the name appears elsewhere only under src/test

The scan matches names, not symbols: two declarations that share a name
count as using each other, so a miss means "maybe used", a hit means "no
text refers to it". `override` and `implicit` declarations are skipped
(they are reached through a supertype or an implicit search, never by
name), and so are `main` methods and the objects that hold them (they are
entry points, reached by class name from the command line).

Usage: python3 scripts/dead_decls.py [repo_root]
"""
import os
import re
import sys
from collections import defaultdict

TREES = ("src/main", "src/test", "perfbench/src")
DECL = re.compile(
    r"^\s*((?:(?:private|protected)(?:\[[\w.]*\])?\s+|final\s+|sealed\s+|"
    r"abstract\s+|lazy\s+|case\s+|override\s+|implicit\s+)*)"
    r"(def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)(.?)")
TOP_OBJECT = re.compile(r"^(?:\w+\s+)*object\s+([A-Za-z_]\w*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def source_files(root, tree):
    base = os.path.join(root, tree)
    for d, _, files in os.walk(base):
        for f in sorted(files):
            if f.endswith((".scala", ".java", ".py")):
                yield os.path.join(d, f)


def main(root):
    decls = []                       # (path, lineno, name)
    decl_lines = defaultdict(set)    # name -> {(path, lineno)}
    entry_objects = set()            # (path, object name) holding a main
    counts = defaultdict(lambda: defaultdict(int))  # name -> tree -> n

    for tree in TREES:
        for path in source_files(root, tree):
            rel = os.path.relpath(path, root)
            top = None
            with open(path, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, 1):
                    for w in WORD.findall(line):
                        counts[w][tree] += 1
                    if tree != "src/main" or not rel.endswith(".scala"):
                        continue
                    m = TOP_OBJECT.match(line)
                    if m:
                        top = m.group(1)
                    d = DECL.match(line)
                    if not d:
                        continue
                    mods, kind, name, after = d.groups()
                    if name == "main" and kind == "def":
                        if top:
                            entry_objects.add((rel, top))
                        continue
                    if "override" in mods or "implicit" in mods:
                        continue
                    if kind in ("val", "var") and after == "(":
                        continue     # a pattern such as `val Array(a, b) = ...`
                    decls.append((rel, lineno, name))
                    decl_lines[name].add((rel, lineno))

    for rel, lineno, name in decls:
        if (rel, name) in entry_objects:
            continue
        # each declaring line holds one occurrence that is not a use
        main_n = counts[name]["src/main"] - len(decl_lines[name])
        test_n = counts[name]["src/test"]
        bench_n = counts[name]["perfbench/src"]
        if main_n + test_n + bench_n == 0:
            print(f"UNREF     {rel}:{lineno} {name}")
        elif main_n + bench_n == 0:
            print(f"TESTONLY  {rel}:{lineno} {name}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else
         os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
