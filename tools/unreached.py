#!/usr/bin/env python3
"""List the src/main files no entry point reaches and the defs no code names.

File pass: the roots are the files with a `def main`, SparkEntry.scala,
the two HTTP servers (HttpServe.scala, IntakeServe.scala) and every file
under perfbench/src. A file reaches another when it names one of the
other's top-level objects, classes or traits; every src/main file that
no root reaches this way is reported.

Def pass: a def is reported when it is not an override and its name
occurs nowhere else in src/main, src/test, perfbench/src or tools.

Both passes strip comments first. Run from the repo root:
python3 tools/unreached.py (prints nothing when both passes are clean).
"""
import pathlib
import re
from collections import Counter

ROOTS = ["src/main", "src/test", "perfbench/src", "tools"]
COMMENT = {".scala": re.compile(r"/\*.*?\*/|(?<!:)//[^\n]*", re.S),
           ".py": re.compile(r"#[^\n]*")}
DEF = re.compile(r"^([^\n]*?)\bdef\s+([A-Za-z_]\w*)", re.M)
NAME = re.compile(r"[A-Za-z_]\w*")
TOP = re.compile(r"^(?:(?:private(?:\[\w+\])?|final|sealed|abstract|case|implicit)\s+)*"
                 r"(?:object|class|trait)\s+([A-Za-z_]\w*)", re.M)
ENTRY = {"SparkEntry.scala", "HttpServe.scala", "IntakeServe.scala"}
MAIN = re.compile(r"\bdef\s+main\b")


def stripped(path):
    # comments become their newlines, so line numbers still hold
    return COMMENT[path.suffix].sub(lambda m: "\n" * m.group().count("\n"),
                                    path.read_text(encoding="utf-8"))


def is_main(path):
    return path.parts[:2] == ("src", "main")


files = {p: stripped(p) for root in ROOTS for p in sorted(pathlib.Path(root).rglob("*"))
         if p.suffix in COMMENT and p.is_file()}

scala = {p: t for p, t in files.items()
         if p.suffix == ".scala" and (is_main(p) or p.parts[0] == "perfbench")}
declares = {p: set(TOP.findall(t)) for p, t in scala.items()}
reached = [p for p, t in scala.items()
           if p.parts[0] == "perfbench" or p.name in ENTRY or MAIN.search(t)]
seen = set(reached)
while reached:
    uses = set(NAME.findall(scala[reached.pop()]))
    for p, names in declares.items():
        if p not in seen and names & uses:
            seen.add(p)
            reached.append(p)
for p in scala:
    if p not in seen:
        print(f"{p}: no entry point reaches it")

names = Counter(n for text in files.values() for n in NAME.findall(text))
for path, text in files.items():
    if not is_main(path):
        continue
    for m in DEF.finditer(text):
        if "override" not in m.group(1) and names[m.group(2)] == 1:
            line = text.count("\n", 0, m.start(2)) + 1
            print(f"{path}:{line}: {m.group(2)}")
