#!/usr/bin/env python3
"""Reachability check: print every public `def` in src/main that nothing
else reaches, and exit 1 if one is found outside the keep list.

A def is unreached when, with comments and string literals stripped, its
name appears in no other file of the caller set (src/main, graftbench/src,
examples, tools; this script excluded) and only once (its definition) in
its own file. Of a Scala literal only the `${...}` and `$ident` parts of
an s/f/raw interpolation count: a def named only in an error message is
not reached. Python and shell strings count whole (they name mains).
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
    "entry": "SparkEntry.entry, the smoke main",
    "bufferEncoder": "Aggregator member, called by Spark",
    "outputEncoder": "Aggregator member, called by Spark",
}
HASH = re.compile(r'"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])*\'|#[^\n]*')
CHAR = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'")
INTERP = re.compile(r'(?<![\w$])(?:s|f|raw)$')
IDENT = re.compile(r'[A-Za-z_]\w*')
SKIP = ("private", "protected", "override", "implicit")
DEF = re.compile(r'^[ \t]*((?:[\w\[\]]+[ \t]+)*)def[ \t]+([A-Za-z_]\w*)', re.M)


def scan(t, i=0, in_splice=False):
    """Scala source `t` from `i` with comments and literals blanked, except
    the code an s/f/raw interpolation splices in. Returns (code, end); in
    a `${...}` splice it stops after the closing brace."""
    out, depth, n = [], 0, len(t)
    while i < n:
        c = t[i]
        if t.startswith("//", i):
            j = t.find("\n", i)
            i = n if j < 0 else j
        elif t.startswith("/*", i):
            j = t.find("*/", i + 2)
            i = n if j < 0 else j + 2
        elif c == "'" and CHAR.match(t, i):
            i = CHAR.match(t, i).end()
        elif c == '"':
            q = '"""' if t.startswith('"""', i) else '"'
            interp = INTERP.search(t, max(0, i - 4), i) is not None
            i += len(q)
            while i < n and not t.startswith(q, i) and (q == '"""' or t[i] != "\n"):
                if interp and t.startswith("${", i):
                    code, i = scan(t, i + 2, True)
                    out.append(" " + code)
                elif interp and t[i] == "$" and (m := IDENT.match(t, i + 1)):
                    out.append(" " + m.group(0))
                    i = m.end()
                elif (interp and t[i] == "$") or (q == '"' and t[i] == "\\"):
                    i += 2  # $$, $" and backslash escapes
                else:
                    i += 1
            while q == '"""' and t.startswith('""""', i):
                i += 1
            i += len(q)
        else:
            if in_splice and c in "{}":
                depth += 1 if c == "{" else -1
                if depth < 0:
                    return "".join(out), i + 1
            out.append(c)
            i += 1
            continue
        out.append(" ")
    return "".join(out), i


def strip(path, text):
    if path.endswith((".py", ".sh")):
        return HASH.sub(lambda m: m.group(0) if m.group(0)[0] in "\"'" else " ", text)
    return scan(text)[0]


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
