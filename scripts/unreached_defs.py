#!/usr/bin/env python3
"""List src/main definitions that no other src/main code names.

A definition (def, val, var, object, class, trait, type) counts as reached
when its name occurs in src/main code, outside comments, anywhere but at a
definition of that name. String literals stay in: interpolations such as
s"... $name ..." are references. The match is by name only, so a name
shared with a parameter or a field elsewhere reads as reached; the list is
a lower bound on what nothing calls.

Usage: python3 scripts/unreached_defs.py [src/main/scala]
Prints one "path:line kind name" per unreached definition.
"""
import re
import sys
from pathlib import Path

DEF = re.compile(r"\b(def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)")


def strip_comments(src):
    """`src` with every comment replaced by spaces (newlines kept)."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i)); i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j): depth, j = depth + 1, j + 2
                elif src.startswith("*/", j): depth, j = depth - 1, j + 2
                else: j += 1
            out.append(re.sub(r"[^\n]", " ", src[i:j])); i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"': j += 1  # closing run of 4+ quotes
            out.append(src[i:j]); i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1]); i = j + 1
        elif src[i] == "'" and re.match(r"'(\\.|[^\\'])'", src[i:i + 4]):
            m = re.match(r"'(\\.|[^\\'])'", src[i:i + 4])
            out.append(m.group(0)); i += len(m.group(0))
        else:
            out.append(src[i]); i += 1
    return "".join(out)


def main():
    root = Path(sys.argv[1] if len(sys.argv) > 1 else "src/main/scala")
    code = {p: strip_comments(p.read_text()) for p in sorted(root.rglob("*.scala"))}
    defs, uses = [], {}
    for p, text in code.items():
        for m in DEF.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            defs.append((p, line, m.group(1), m.group(2)))
        for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", text):
            uses[w] = uses.get(w, 0) + 1
    sites = {}
    for _, _, _, name in defs:
        sites[name] = sites.get(name, 0) + 1
    for p, line, kind, name in defs:
        if uses.get(name, 0) <= sites[name]:
            print(f"{p}:{line} {kind} {name}")


if __name__ == "__main__":
    main()
