#!/usr/bin/env python3
"""List the defs in src/main that no code names.

A def is reported when it is not an override and its name occurs nowhere
else in src/main, src/test, perfbench/src or tools, with comments stripped.
Run from the repo root: python3 tools/unreached.py (prints nothing when
every def is named somewhere).
"""
import pathlib
import re
from collections import Counter

ROOTS = ["src/main", "src/test", "perfbench/src", "tools"]
COMMENT = {".scala": re.compile(r"/\*.*?\*/|(?<!:)//[^\n]*", re.S),
           ".py": re.compile(r"#[^\n]*")}
DEF = re.compile(r"^([^\n]*?)\bdef\s+([A-Za-z_]\w*)", re.M)
NAME = re.compile(r"[A-Za-z_]\w*")


def stripped(path):
    # comments become their newlines, so line numbers still hold
    return COMMENT[path.suffix].sub(lambda m: "\n" * m.group().count("\n"),
                                    path.read_text(encoding="utf-8"))


files = {p: stripped(p) for root in ROOTS for p in sorted(pathlib.Path(root).rglob("*"))
         if p.suffix in COMMENT and p.is_file()}
names = Counter(n for text in files.values() for n in NAME.findall(text))
for path, text in files.items():
    if path.parts[:2] != ("src", "main"):
        continue
    for m in DEF.finditer(text):
        if "override" not in m.group(1) and names[m.group(2)] == 1:
            line = text.count("\n", 0, m.start(2)) + 1
            print(f"{path}:{line}: {m.group(2)}")
