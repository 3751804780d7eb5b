#!/usr/bin/env python3
"""Lines added, removed and net per changed `src/main` file, and in total.

Usage: python3 scripts/loc.py <base> [<rev>]   (no <rev>: the working tree)
The `code` columns leave out blank lines, `//` comments and `/* */` blocks.
"""
import re, subprocess, sys

def git(*args, check=True):
    return subprocess.run(["git", *args], capture_output=True, text=True, check=check).stdout

def is_code(text):  # one flag per line: not blank, not inside a comment
    flags, block = [], False
    for s in (line.strip() for line in text.splitlines()):
        opens = not block and s.startswith("/*")
        flags.append(not (block or opens or not s or s.startswith("//")))
        if block or opens:
            block = "*/" not in (s[2:] if opens else s)
    return flags

def source(rev, path):
    if rev is None:
        try: return open(path).read()
        except FileNotFoundError: return ""
    return git("show", f"{rev}:{path}", check=False)

base, rev = sys.argv[1], (sys.argv[2] if len(sys.argv) > 2 else None)
rows, path = {}, None
for line in git("diff", "-U0", "--no-renames", base, *([rev] if rev else []), "--", "src/main").splitlines():
    if line.startswith("diff --git"):
        path = line.split(" b/", 1)[1]
        old, new = is_code(source(base, path)), is_code(source(rev, path))
        rows[path] = [0] * 4
    elif m := re.match(r"@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@", line):
        a, b, c, d = int(m[1]), int(m[2] or 1), int(m[3]), int(m[4] or 1)
        r, o, n = rows[path], old[a - 1:a - 1 + b] if b else [], new[c - 1:c - 1 + d] if d else []
        r[0] += len(n); r[1] += len(o); r[2] += sum(n); r[3] += sum(o)
rows["total"] = [sum(r[i] for r in rows.values()) for i in range(4)]
print(f"{'file':60} {'+':>5} {'-':>5} {'net':>5} {'code+':>6} {'code-':>6} {'net':>5}")
for p, (ad, rm, cad, crm) in rows.items():
    print(f"{p:60} {ad:5} {rm:5} {ad - rm:+5} {cad:6} {crm:6} {cad - crm:+5}")
