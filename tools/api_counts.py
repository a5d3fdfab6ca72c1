#!/usr/bin/env python3
"""Simplicity counts over the Scala sources, reproducible from one script:

  - line counts of src/main and src/test (every *.scala file, as `wc -l`);
  - public `def`s per `object` in src/main: direct members of the object
    body only (not defs of nested classes, anonymous classes or local
    defs), and not `private`/`protected` (any qualifier);
  - default-valued parameters in src/main: every parameter of a `def` or
    `class` parameter list that carries `= <default>`;
  - the string-literal keys passed to `conf.get`/`getOption`/`set`/`unset`,
    `.option` and `.config` (conf keys), and to `sys.env`/`System.getenv`
    (env keys), in src/main.

Comments and string contents are stripped before anything is counted, so
a `def` or an `= 1` inside a comment or a string never counts.

Run: python3 tools/api_counts.py [ROOT]   (ROOT defaults to this repo)
"""
import collections
import os
import re
import sys


CHAR = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'")


def strip(src):
    """Return (code, literals): `src` with comments removed and every
    string literal replaced by the placeholder `"§<n>"`, where
    literals[n] is the literal's raw text (for an interpolated string,
    the text with its `${...}` parts left in). Newlines are kept."""
    out, lits = [], []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):  # Scala block comments nest
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    if src[i] == "\n":
                        out.append("\n")
                    i += 1
        elif c == '"':
            if src.startswith('"""', i):
                j = src.find('"""', i + 3)
                j = n if j < 0 else j
                while src.startswith('"', j + 3):  # """...""""" closes last
                    j += 1
                body, end = src[i + 3:j], j + 3
            else:
                j = i + 1
                while j < n and src[j] != '"' and src[j] != "\n":
                    j += 2 if src[j] == "\\" else 1
                body, end = src[i + 1:j], j + 1
            out.append('"§%d"' % len(lits) + "\n" * body.count("\n"))
            lits.append(body)
            i = end
        elif c == "'" and CHAR.match(src, i):
            i = CHAR.match(src, i).end()
            out.append("' '")
        else:
            out.append(c)
            i += 1
    return "".join(out), lits


def matching(code, i, open_, close):
    """Index just past the bracket that closes the one at code[i]."""
    depth = 0
    for j in range(i, len(code)):
        if code[j] == open_:
            depth += 1
        elif code[j] == close:
            depth -= 1
            if depth == 0:
                return j + 1
    return len(code)


def top_level_split(s):
    """Split a parameter list's inner text at depth-0 commas."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


DEFAULT_EQ = re.compile(r"(?<![=<>!:])=(?![=>])")


def has_default(param):
    depth = 0
    for k, ch in enumerate(param):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif depth == 0 and DEFAULT_EQ.match(param, k):
            return True
    return False


HEADER = re.compile(
    r"\b(?:def\s+(?:[A-Za-z_][\w$]*|[^\w\s(\[:]+)|class\s+\w+)")


def default_params(code):
    """Number of default-valued parameters over every def/class header."""
    total = 0
    for m in HEADER.finditer(code):
        i = m.end()
        while True:
            while i < len(code) and code[i] in " \t\n":
                i += 1
            if code.startswith("private", i) or code.startswith("protected", i):
                i = re.match(r"\w+(\[[\w.]*\])?", code[i:]).end() + i
                continue
            if i < len(code) and code[i] == "[":
                i = matching(code, i, "[", "]")
            elif i < len(code) and code[i] == "(":
                j = matching(code, i, "(", ")")
                total += sum(has_default(p)
                             for p in top_level_split(code[i + 1:j - 1]))
                i = j
            else:
                break
    return total


OBJECT_HEAD = re.compile(
    r"\bobject\s+(\w+)[^{}\n]*(?:\n\s*(?:extends|with)\b[^{}\n]*)*\{")
DEF = re.compile(
    r"((?:(?:\bprivate|\bprotected)(?:\[[\w.]*\])?\s+|"
    r"\b(?:override|final|implicit|inline)\s+)*)\bdef\s+"
    r"([A-Za-z_][\w$]*|[^\w\s(\[:]+)")


def public_defs(code):
    """{object name: number of public defs directly in its body}."""
    bodies = {m.end() - 1: m.group(1) for m in OBJECT_HEAD.finditer(code)}
    defs = {m.start(): not re.search(r"private|protected", m.group(1))
            for m in DEF.finditer(code)}
    counts = collections.Counter({name: 0 for name in bodies.values()})
    stack = []
    for i, ch in enumerate(code):
        if ch == "{":
            stack.append(bodies.get(i))
        elif ch == "}" and stack:
            stack.pop()
        elif i in defs and defs[i] and stack and stack[-1] is not None:
            counts[stack[-1]] += 1
    return counts


CONF_KEY = re.compile(
    r"(?:\bconf\.(?:get|getOption|set|unset)|\.option|\.config)"
    r"\(\s*\"§(\d+)\"")
ENV_KEY = re.compile(
    r"(?:\bsys\.env(?:\.get|\.getOrElse|\.contains)?|\bSystem\.getenv)"
    r"\(\s*\"§(\d+)\"")


def keys(code, lits):
    """(conf key Counter, env key Counter) of literal keys in `code`."""
    conf = collections.Counter(lits[int(g)] for g in CONF_KEY.findall(code))
    env = collections.Counter(lits[int(g)] for g in ENV_KEY.findall(code))
    return conf, env


def scala_files(d):
    for base, _, names in sorted(os.walk(d)):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(base, name)


def counts(root):
    main, test = os.path.join(root, "src/main"), os.path.join(root, "src/test")
    res = {"main_lines": 0, "test_lines": 0, "defaults": 0,
           "public_defs": collections.Counter(),
           "conf": collections.Counter(), "env": collections.Counter()}
    for f in scala_files(test):
        with open(f, encoding="utf-8") as fh:
            res["test_lines"] += fh.read().count("\n")
    for f in scala_files(main):
        with open(f, encoding="utf-8") as fh:
            src = fh.read()
        res["main_lines"] += src.count("\n")
        code, lits = strip(src)
        res["defaults"] += default_params(code)
        res["public_defs"].update(public_defs(code))
        conf, env = keys(code, lits)
        res["conf"].update(conf)
        res["env"].update(env)
    return res


def report(res):
    lines = [f"src/main lines: {res['main_lines']}",
             f"src/test lines: {res['test_lines']}",
             f"default-valued parameters (src/main): {res['defaults']}",
             f"public defs per object (src/main): "
             f"{sum(res['public_defs'].values())}"]
    lines += [f"  {name} {n}" for name, n in sorted(res["public_defs"].items())]
    for kind in ("conf", "env"):
        lines.append(f"{kind} keys (src/main): {len(res[kind])}")
        lines += [f"  {k} x{n}" for k, n in sorted(res[kind].items())]
    return "\n".join(lines)


def main(argv):
    root = argv[1] if len(argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    print(report(counts(root)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
