#!/usr/bin/env python3
"""List main-source declarations that no entry point reaches.

Usage: python3 scripts/unreachable.py [repo_dir]

Every top-level `object`, `class` and `trait` in src/main/scala is a
node. A node reaches every node whose simple name appears as an
identifier in its source text (comments stripped, string literals kept,
so reflective names such as `format("graft.sources.X")` count). The
roots are the entry points: Registry, SparkEntry, cli/Main, Bench,
Verify, MakeSf1, tools/ExplainQuery, plus every name perfbench/src
mentions and every class META-INF/services registers. The script
prints each node the roots do not reach, one `path:line kind Name` a
line, then a count.

Names are matched globally, not per package, so two declarations that
share a simple name are reached together; the list can only be too
short, never too long.
"""
import os
import re
import sys

ROOTS = [
    ("graft/queries/Registry.scala", "Registry"),
    ("graft/SparkEntry.scala", "SparkEntry"),
    ("graft/cli/Main.scala", "Main"),
    ("graft/Bench.scala", "Bench"),
    ("graft/Verify.scala", "Verify"),
    ("graft/MakeSf1.scala", "MakeSf1"),
    ("graft/tools/ExplainQuery.scala", "ExplainQuery"),
]

DECL = re.compile(
    r"^(?:@\w+(?:\([^)]*\))?\s+)*"
    r"(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|abstract\s+"
    r"|case\s+|implicit\s+)*(object|class|trait)\s+([A-Za-z_]\w*)",
    re.M)
IDENT = re.compile(r"[A-Za-z_]\w*")


def strip_comments(src):
    """Drop // and (nested) /* */ comments; keep string and char literals."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """..."""" ends on the last quote
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src[i] == "'" and re.match(r"'(\\.|[^\\'])'", src[i:i + 4]):
            j = src.index("'", i + 2 if src[i + 1] == "\\" else i + 1) + 1
            out.append(src[i:j])
            i = j
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("\n" * src.count("\n", i, j))  # keep line numbers
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    main_dir = os.path.join(repo, "src", "main", "scala")

    nodes = []  # (relpath, line, kind, name, identifiers in its span)
    for path in scala_files(main_dir):
        text = strip_comments(open(path, encoding="utf-8").read())
        decls = list(DECL.finditer(text))
        for k, m in enumerate(decls):
            end = decls[k + 1].start() if k + 1 < len(decls) else len(text)
            nodes.append((os.path.relpath(path, main_dir),
                          text.count("\n", 0, m.start()) + 1,
                          m.group(1), m.group(2),
                          set(IDENT.findall(text[m.end():end]))))
    by_name = {}
    for i, node in enumerate(nodes):
        by_name.setdefault(node[3], []).append(i)

    seen_names = set()
    for path in scala_files(os.path.join(repo, "perfbench", "src")):
        seen_names |= set(IDENT.findall(strip_comments(open(path, encoding="utf-8").read())))
    services = os.path.join(repo, "src", "main", "resources", "META-INF", "services")
    for f in sorted(os.listdir(services)) if os.path.isdir(services) else []:
        for line in open(os.path.join(services, f), encoding="utf-8"):
            if line.strip() and not line.startswith("#"):
                seen_names.add(line.strip().rsplit(".", 1)[-1])

    stack = [i for i, node in enumerate(nodes) if (node[0], node[3]) in ROOTS]
    stack += [i for name in seen_names for i in by_name.get(name, [])]
    reached = set()
    while stack:
        i = stack.pop()
        if i in reached:
            continue
        reached.add(i)
        for name in nodes[i][4]:
            stack.extend(by_name.get(name, []))

    unreached = [n for i, n in enumerate(nodes) if i not in reached]
    for rel, line, kind, name, _ in unreached:
        print(f"src/main/scala/{rel}:{line} {kind} {name}")
    print(f"{len(unreached)} of {len(nodes)} top-level declarations unreachable")


if __name__ == "__main__":
    main()
