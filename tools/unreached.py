#!/usr/bin/env python3
"""List public library members that nothing outside the library reaches.

Usage: python3 tools/unreached.py [repo_root]

The library is `src/main/scala/graft/{ops,functions,sources,streaming}`.
The roots are every other `src/main` file (the registered queries,
TableOne, the CLI and bench mains) plus `perfbench/src`. A member is a
top-level class/object/trait of a library file, or a def/val/class/object
declared directly in a top-level object. Reachability is by name over
comment-stripped source: a member is reached when a reached region names
it and that region is its owner's own body, or names the owner, or sits
in a file that imports or names the owner. A top-level class's whole body
(e.g. a Catalyst `Expression` or `Aggregator` and its overrides) is one
region, so the framework-called overrides are never listed on their own.
A `SparkSessionExtensions` hook class, which Spark instantiates by name
from `spark.sql.extensions`, is a root too. Specs are not roots: a def
only a spec calls is unreached.

Prints each unreached member that is public or package-qualified
(`private[x]`, except the `private[ops]` test fixtures) and whose
scaladoc carries no `Kept:` line; exits 1 when it prints any, 0
otherwise.
"""
import os, re, sys

LIBRARY = ("ops", "functions", "sources", "streaming")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEF = re.compile(
    r"^[ \t]*((?:(?:private|protected)(?:\[\w+\])?|final|override|implicit|lazy|sealed|"
    r"abstract|case)\s+)*(def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)",
    re.M)
# a session extension that Spark instantiates by name from
# `spark.sql.extensions`: an entry point like a main
SPARK_HOOK = re.compile(r"^[^{]*\bextends\s*\(\s*SparkSessionExtensions\s*=>")
# companion members a reached owner reaches implicitly (constructor sugar)
IMPLICIT_NAMES = {"apply", "unapply"}


def strip_comments(src):
    """Blank comments (keeping newlines and offsets); strings are kept."""
    out, i, n = list(src), 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            i = n if j < 0 else j + 3
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2)
            i = n if j < 0 else j + 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            for k in range(i, j):
                out[k] = " "
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            for k in range(i, j):
                if out[k] != "\n":
                    out[k] = " "
            i = j
        else:
            i += 1
    return "".join(out)


def blank_literals(code):
    """Blank string and char literal contents, so braces in them don't count."""
    return re.sub(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'',
                  lambda m: m.group(0)[0] + " " * (len(m.group(0)) - 2) + m.group(0)[-1],
                  code)


def depths(code):
    """Brace depth at each offset of comment-stripped code."""
    d, out = 0, []
    for c in blank_literals(code):
        out.append(d)
        d += (c == "{") - (c == "}")
    out.append(d)
    return out


class Member:
    def __init__(self, path, owner, name, public, kept, start, end, kind=None):
        self.path, self.owner, self.name, self.kind = path, owner, name, kind
        self.public, self.kept = public, kept
        self.start, self.end = start, end

    def label(self):
        return f"{self.owner}.{self.name}" if self.owner else self.name


def doc_has_kept(raw, start):
    """True when the scaladoc right above offset `start` has a `Kept:` line."""
    head = raw[:start].rstrip()
    while (m := re.search(r"@\w+(\([^)]*\))?$", head)):  # annotations
        head = head[:m.start()].rstrip()
    return head.endswith("*/") and "Kept:" in head[head.rfind("/**"):]


def visible(mods):
    """Public or package-qualified, except `private[ops]` test fixtures."""
    return re.search(r"\b(protected|private(?!\[))\b|private\[ops\]", mods) is None


def parse_library(path, raw):
    code = strip_comments(raw)
    dep = depths(code)
    members, tops = [], []
    for m in DEF.finditer(code):
        s = m.start(3)
        if dep[s] == 0:
            tops.append(m)
    for t, m in enumerate(tops):
        start = m.start()
        end = tops[t + 1].start() if t + 1 < len(tops) else len(code)
        mods, kind, name = m.group(1) or "", m.group(2), m.group(3)
        top = Member(path, None, name, visible(mods), doc_has_kept(raw, start),
                     start, end, kind)
        members.append(top)
        body = code.find("{", m.end())
        if kind != "object" or body < 0 or body >= end:
            continue
        inner = [x for x in DEF.finditer(code, body, end) if dep[x.start(3)] == 1]
        if inner:
            top.end = inner[0].start()
        for k, x in enumerate(inner):
            xe = inner[k + 1].start() if k + 1 < len(inner) else end
            members.append(Member(path, name, x.group(3),
                                  top.public and visible(x.group(1) or ""),
                                  doc_has_kept(raw, x.start()), x.start(), xe))
    return code, members


def scala_files(root, sub):
    for d, _, fs in os.walk(os.path.join(root, sub)):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def scan(root):
    lib_dirs = [os.path.join(root, "src/main/scala/graft", p) + os.sep for p in LIBRARY]
    codes, members, root_regions = {}, [], []
    for sub in ("src/main/scala", "perfbench/src"):
        for path in scala_files(root, sub):
            with open(path, encoding="utf-8") as f:
                raw = f.read()
            if any(path.startswith(d) for d in lib_dirs):
                code, ms = parse_library(path, raw)
                codes[path] = code
                members.extend(ms)
            else:
                code = strip_comments(raw)
                codes[path] = code
                root_regions.append((path, None, 0, len(code)))
    file_tokens = {p: set(IDENT.findall(c)) for p, c in codes.items()}
    import_tokens = {p: set(IDENT.findall("\n".join(
        l for l in c.splitlines() if l.lstrip().startswith("import "))))
        for p, c in codes.items()}
    by_name = {}
    for mem in members:
        by_name.setdefault(mem.name, []).append(mem)
    tops = {(m.path, m.name): m for m in members if m.kind == "object"}
    companions = {}
    for mem in members:
        if mem.owner is not None and mem.name in IMPLICIT_NAMES:
            companions.setdefault((mem.path, mem.owner), []).append(mem)
    reached, work = set(), list(root_regions)

    def reach(mem):
        if id(mem) in reached:
            return
        reached.add(id(mem))
        work.append((mem.path, mem.owner or mem.name, mem.start, mem.end))
        if mem.owner is not None:
            reach(tops[(mem.path, mem.owner)])
        else:
            for other in companions.get((mem.path, mem.name), ()):
                reach(other)

    for mem in members:
        if mem.kind == "class" and SPARK_HOOK.search(codes[mem.path][mem.start:mem.end]):
            reach(mem)
    while work:
        path, owner, s, e = work.pop()
        toks = set(IDENT.findall(codes[path][s:e]))
        for tok in toks:
            for mem in by_name.get(tok, ()):
                if id(mem) in reached:
                    continue
                if mem.owner is None or mem.owner in toks:
                    reach(mem)
                elif mem.path == path:
                    # same file: the owner's own body, or an import of it
                    if owner == mem.owner or mem.owner in import_tokens[path]:
                        reach(mem)
                elif mem.owner in file_tokens[path]:
                    reach(mem)
    return [m for m in members if id(m) not in reached]


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    found = [m for m in scan(root) if m.public and not m.kept]
    for m in found:
        rel = os.path.relpath(m.path, root)
        with open(m.path, encoding="utf-8") as f:
            line = f.read().count("\n", 0, m.start) + 1
        print(f"{rel}:{line}: {m.label()}")
    print(f"unreached public library members: {len(found)}")
    sys.exit(1 if found else 0)


if __name__ == "__main__":
    main()
