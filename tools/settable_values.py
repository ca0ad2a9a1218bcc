#!/usr/bin/env python3
"""Count the independently settable values of a Scala source tree.

A settable value is a defaulted parameter of a def that is not plain
`private` (`private[pkg]` counts), a `spark.graft.*` conf read, or an
environment variable read. Comments are skipped; string literals are
blanked before the parameter lists are parsed.

    python3 tools/settable_values.py src/main        # totals
    python3 tools/settable_values.py src/main -v     # one line per value
"""
import os
import re
import sys


def strip_comments(s):
    """Drop // and /* */ comments and blank string literal contents
    (so a ',' or '=' inside a string never splits a parameter)."""
    out, i, n = [], 0, len(s)
    while i < n:
        if s.startswith("//", i):
            j = s.find("\n", i)
            i = n if j < 0 else j
        elif s.startswith("/*", i):
            j = s.find("*/", i + 2)
            i = n if j < 0 else j + 2
        elif s[i] == '"':
            if s.startswith('"""', i):
                j = s.find('"""', i + 3)
                j = n if j < 0 else j + 3
            else:
                j = i + 1
                while j < n and s[j] not in '"\n':
                    j += 2 if s[j] == "\\" else 1
                j += 1
            out.append('"' + "_" * max(0, j - i - 2) + '"')
            i = j
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def matching(s, i):
    """Index of the bracket closing the one opened at s[i]."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] in "([{":
            depth += 1
        elif s[j] in ")]}":
            depth -= 1
            if depth == 0:
                return j
    return len(s) - 1


def split_top(s):
    parts, depth, cur = [], 0, []
    for ch in s:
        depth += ch in "([{"
        depth -= ch in ")]}"
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    return parts + ["".join(cur)]


def defaulted_params(path, src):
    for m in re.finditer(r"\bdef\s+([^\s(\[:=]+)", src):
        line = src[:m.start()].rsplit("\n", 1)[-1]
        if re.search(r"\bprivate\b(?!\[)|\bprivate\[this\]", line):
            continue
        i = m.end()
        if src[i:i + 1] == "[":
            i = matching(src, i) + 1
        while src[i:i + 1] == "(":
            j = matching(src, i)
            for p in split_top(src[i + 1:j]):
                if ":" in p and re.search(r"[^=<>!]=[^=>]", p):
                    yield path, m.group(1), p.split(":")[0].split()[-1]
            i = j + 1
            while src[i:i + 1].isspace():
                i += 1


def main(root, verbose):
    params, confs, envs = [], set(), set()
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            path = os.path.join(d, f)
            raw = open(path, encoding="utf-8").read()
            params += defaulted_params(path, strip_comments(raw))
            envs |= {(path, e) for e in re.findall(
                r"(?:sys\.env|System\.getenv)\W+(?:get\w*\()?\"(\w+)\"", raw)}
            confs |= {(path, c) for c in re.findall(
                r"conf\.(?:get\w*)\(\s*\"(spark\.graft[^\"]*)\"", raw)}
            confs |= {(path, c) for c in re.findall(
                r"conf\.(?:get\w*)\(\s*([A-Z]\w*Conf)\b", raw)}
    if verbose:
        for p, fn, name in params:
            print("param", p, fn, name)
        for p, c in sorted(confs):
            print("conf", p, c)
        for p, e in sorted(envs):
            print("env", p, e)
    total = len(params) + len(confs) + len(envs)
    print(f"defaulted params: {len(params)}  conf reads: {len(confs)}  "
          f"env reads: {len(envs)}  total: {total}")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.stderr.write(__doc__)
        sys.exit(2)
    main(sys.argv[1], "-v" in sys.argv[2:])
