#!/usr/bin/env python3
"""Reachability check: print every public `def` in src/main that nothing
else reaches, and exit 1 if one is found outside the keep list.

A def is unreached when, with comments stripped, its name appears in no
other file of the caller set (src/main, graftbench/src, examples, tools;
this script excluded) and only once (its definition) in its own file.
Specs do not count. `private`, `protected`, `override` and `implicit`
defs are skipped: the compiler checks or calls those.

Usage: python3 tools/reach.py
"""
import os, re, sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALLERS = ["src/main", "graftbench/src", "examples", "tools"]
KEEP = {
    "jaccardPairs": "all-pairs reference that ExtSpec checks jaccardPairsExact against",
    "linearMarginJoined": "cross-check that ExtSpec compares linearMargin against",
    "vacuumIndex": "the only path that reclaims superseded index segments",
    "entry": "SparkEntry.entry, the smoke main",
    "bufferEncoder": "Aggregator member, called by Spark",
    "outputEncoder": "Aggregator member, called by Spark",
}
C_STYLE = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|/\*[\s\S]*?\*/|//[^\n]*')
HASH = re.compile(r'"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])*\'|#[^\n]*')
SKIP = ("private", "protected", "override", "implicit")
DEF = re.compile(r'^[ \t]*((?:[\w\[\]]+[ \t]+)*)def[ \t]+([A-Za-z_]\w*)', re.M)


def strip(path, text):
    pat = HASH if path.endswith((".py", ".sh")) else C_STYLE
    return pat.sub(lambda m: m.group(0) if m.group(0)[0] in "\"'" else " ", text)


def sources():
    for top in CALLERS:
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            for p in (os.path.join(d, n) for n in names):
                if p != os.path.abspath(__file__):
                    with open(p, encoding="utf-8", errors="replace") as f:
                        yield os.path.relpath(p, ROOT), strip(p, f.read())


def main():
    files = dict(sources())
    total = Counter(w for t in files.values() for w in re.findall(r"\w+", t))
    bad = 0
    for path, text in sorted(files.items()):
        if path.startswith("src/main") and path.endswith(".scala"):
            for m in DEF.finditer(text):
                mods, name = m.group(1).split(), m.group(2)
                if total[name] == 1 and not any(x.startswith(SKIP) for x in mods):
                    bad += name not in KEEP
                    print(f"{path}: {name}" + (f"  (kept: {KEEP[name]})" if name in KEEP else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
