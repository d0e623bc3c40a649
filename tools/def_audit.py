#!/usr/bin/env python3
"""Reachability audit of the engine's Scala members.

    python3 tools/def_audit.py [ROOT]

Reads ROOT/src/main/scala and ROOT/benchmark/src (ROOT defaults to the
checkout this script sits in) and prints `path:line kind name` for each
member of an object, class or trait that nothing in the system reaches.

Roots: every `def main`; the objects SparkEntry, Verify and Bench; the
`queries` and `oracles` maps; every file under benchmark/; every
`override`. A member is live when its name appears in the text of a
root or of a live member, outside the member's own span, so a member
that only unreached code names is unreached too. An object, class or
trait holding a live member is live; `apply`, `unapply` and auxiliary
constructors are live with their owner. Comments and string text are
ignored, but the code inside a string's `${...}` and `$name`
interpolations counts, because the DuckDB oracles call helper defs from
inside `s\"\"\"...\"\"\"`. Imports name nothing. Names are matched as
words, so a member that shares its name with anything live is live:
the audit can miss an unreached member, never report a reached one.

The exit status is 1 when an unreached member is not on ALLOW, or when
an ALLOW entry no longer names an unreached member (a stale entry);
otherwise 0.
"""
import bisect
import os
import re
import sys

# Qualified name (enclosing objects/classes joined by '.') -> reason.
ALLOW = {
    "Health.jdbcPing":
        "the /healthz DB ping of the reference; the sync service gets a caller for it",
    "MonitoringServer.actualPort":
        "the monitoring server's bound port; the sync service serves it",
    "Metrics.counterValue":
        "reads a reference instrument back; the sync service's /metrics spec asserts through it",
    "Orchestrator.registerShutdownHook":
        "the reference's shutdown-on-signal; the sync service installs it",
    "Orchestrator.awaitAll":
        "waits on the stream path's queries; kept or removed with the stream path",
    "Payloads.readEmployeePayloads":
        "envelope reader of the stream path; kept or removed with the stream path",
    "Payloads.readTaskPayloads":
        "envelope reader of the stream path; kept or removed with the stream path",
    "Payloads.streamEmployeePayloads":
        "envelope reader of the stream path; kept or removed with the stream path",
    "Payloads.countCorruptInto":
        "corrupt-envelope counter of the stream path; kept or removed with it",
    "Pipelines.employeeStream":
        "the streaming employee pipeline (S1); kept or removed with the stream path",
    "Pipelines.taskStream":
        "the streaming task pipeline; kept or removed with the stream path",
    "Watermark.latest":
        "reads the scraper_status watermark (S5); the sync service's backfill reads it",
    "GraftConfig.fromEnv":
        "part of the frozen bench contract in core/",
}

ROOT_OBJECTS = {"SparkEntry", "Verify", "Bench"}
ROOT_MAPS = {"queries", "oracles"}
# members that code reaches without writing their name
IMPLICIT = {"apply", "unapply", "unapplySeq", "update", "this"}

DECL = {"def", "val", "var", "object", "class", "trait", "type"}
MODIFIERS = {"private", "protected", "final", "override", "implicit", "lazy",
             "sealed", "abstract", "case"}
TEMPLATES = {"object", "class", "trait"}

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
CHAR_LIT = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'")
TOKEN = re.compile(r"`[^`\n]+`|[A-Za-z_][A-Za-z0-9_]*|[0-9][A-Za-z0-9_.]*"
                   r"|[{}()\[\]]|[^\sA-Za-z0-9_{}()\[\]`]+")
IMPORT = re.compile(r"^[ \t]*import\b[^\n]*", re.M)


def clean(src):
    """Blanks comments and string text (newlines kept, so offsets and line
    numbers hold); keeps the code of `${...}` and `$name` interpolations.
    Import lines are blanked too."""
    out = list(src)
    n = len(src)

    def blank(a, b):
        for k in range(a, min(b, n)):
            if out[k] != "\n":
                out[k] = " "

    def comment(i):
        depth, j = 0, i
        while j < n:
            if src.startswith("/*", j):
                depth, j = depth + 1, j + 2
            elif src.startswith("*/", j):
                depth, j = depth - 1, j + 2
                if depth == 0:
                    return j
            else:
                j += 1
        return n

    def string(i, interp):
        q = 3 if src.startswith('"""', i) else 1
        blank(i, i + q)
        out[i] = "0"        # a literal token, so statement ends stay visible
        i += q
        while i < n:
            c = src[i]
            if q == 3 and src.startswith('"""', i):
                j = i
                while j < n and src[j] == '"':
                    j += 1
                blank(i, j)
                return j
            if q == 1:
                if c == '"':
                    blank(i, i + 1)
                    return i + 1
                if c == "\\":
                    blank(i, i + 2)
                    i += 2
                    continue
                if c == "\n":
                    return i
            if interp and c == "$":
                if src.startswith("$$", i):
                    blank(i, i + 2)
                    i += 2
                    continue
                if src.startswith("${", i):
                    blank(i, i + 2)
                    j = code(i + 2, True)
                    blank(j, j + 1)
                    i = j + 1
                    continue
                m = IDENT.match(src, i + 1)
                if m:
                    blank(i, i + 1)
                    i = m.end()
                    continue
            blank(i, i + 1)
            i += 1
        return i

    def code(i, nested):
        """Scans code from i; when nested, stops at the unmatched '}'."""
        depth = 0
        while i < n:
            c = src[i]
            if src.startswith("//", i):
                j = src.find("\n", i)
                j = n if j < 0 else j
                blank(i, j)
                i = j
            elif src.startswith("/*", i):
                j = comment(i)
                blank(i, j)
                i = j
            elif c == '"':
                j = i
                while j > 0 and (src[j - 1].isalnum() or src[j - 1] == "_"):
                    j -= 1
                blank(j, i)     # the interpolator's name
                i = string(i, j < i)
            elif c == "'":
                m = CHAR_LIT.match(src, i)
                if m:
                    blank(m.start(), m.end())
                    out[i] = "0"
                    i = m.end()
                else:
                    i += 1
            elif c == "{":
                depth += 1
                i += 1
            elif c == "}":
                if nested and depth == 0:
                    return i
                depth -= 1
                i += 1
            else:
                i += 1
        return i

    code(0, False)
    return IMPORT.sub(lambda m: " " * len(m.group(0)), "".join(out))


class Member:
    def __init__(self, path, kind, name, start, parent, override):
        self.path, self.kind, self.name = path, kind, name
        self.start, self.end = start, None
        self.parent, self.override = parent, override
        self.children = []
        self.line = 0

    def qualified(self):
        names, m = [], self
        while m is not None and m.name is not None:
            names.append(m.name)
            m = m.parent
        return ".".join(reversed(names))


def parse(path, text):
    """Members declared directly in a file, object, class or trait body.
    Returns the file's pseudo-member, whose children are the top level.
    A member ends where its statement ends: at a line break, outside any
    bracket, that neither the line's last token nor the next line's
    first token continues."""
    top = Member(path, "file", None, 0, None, False)
    top.end = len(text)
    stack = [("template", top)]
    pending = None          # object/class/trait waiting for its body
    open_ = None            # the member whose statement has not ended
    mod_start, mods = None, set()
    toks = [(m.group(0), m.start(), m.end()) for m in TOKEN.finditer(text)]
    prev = None
    for i, (tok, pos, end) in enumerate(toks):
        kind, owner = stack[-1]
        if (open_ is not None and kind == "template" and owner is open_.parent
                and prev is not None and "\n" in text[prev[2]:pos]
                and not _continues(prev[0], tok)):
            open_.end = prev[2]
            open_ = pending = None
        prev = (tok, pos, end)
        if tok in ("(", "["):
            stack.append(("paren", owner))
            continue
        if tok in (")", "]"):
            if stack[-1][0] == "paren":
                stack.pop()
            continue
        if tok == "{":
            if pending is not None and pending[1] == len(stack):
                stack.append(("template", pending[0]))
                open_ = None
            else:
                stack.append(("block", owner))
            pending = None
            continue
        if tok == "}":
            if len(stack) > 1:
                k, node = stack.pop()
                if k == "template":
                    if open_ is not None and open_.parent is node:
                        open_.end = pos
                    open_ = None
                    if node.kind != "file":
                        node.end = end
            continue
        if kind != "template":
            continue
        if tok in MODIFIERS:
            if mod_start is None:
                mod_start = pos
            mods.add(tok)
            continue
        if tok in DECL and not (i > 0 and toks[i - 1][0].endswith(".")):
            name = None
            if i + 1 < len(toks):
                nxt = toks[i + 1][0].strip("`")
                if not nxt.startswith(("(", "{", "[")):
                    name = nxt
            start = pos if mod_start is None else mod_start
            if open_ is not None and open_.end is None:
                open_.end = start
            label = ("lazy val" if tok == "val" and "lazy" in mods
                     else "case " + tok if "case" in mods else tok)
            m = Member(path, label, name, start, owner, "override" in mods)
            owner.children.append(m)
            open_ = m
            pending = (m, len(stack)) if tok in TEMPLATES else None
            mod_start, mods = None, set()
            continue
        mod_start, mods = None, set()
    for m in walk(top):
        if m.end is None:
            m.end = len(text)
    return top


CONT_END = {"with", "extends", "else", "if", "match", "new", "yield", "do"}
CONT_START = {"with", "extends", "else", "match", "catch", "finally", "yield", "forSome"}


def _continues(last, first):
    """Whether a line ending in token `last` runs on into one starting with
    `first`."""
    if last in CONT_END or first in CONT_START:
        return True
    sym = lambda t: not (t[0].isalnum() or t[0] in "_`{}()[]")
    return (sym(last) and last not in ("@",)) or (sym(first) and first[0] != "@")


def walk(m):
    yield m
    for c in m.children:
        yield from walk(c)


def own_text(m):
    """The member's text without its children's spans."""
    parts, at = [], m.start
    for c in m.children:
        parts.append((at, c.start))
        at = c.end
    parts.append((at, m.end))
    return parts


def scala_files(base):
    for d, dirs, fs in os.walk(base):
        dirs.sort()
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def audit(root, allow):
    """Returns (unreached members not on allow, stale allow entries)."""
    files = {}
    for base, is_root in ((os.path.join(root, "src", "main", "scala"), False),
                          (os.path.join(root, "benchmark", "src"), True)):
        for p in scala_files(base):
            with open(p, encoding="utf-8") as f:
                text = clean(f.read())
            files[p] = (text, parse(p, text), is_root)

    by_name = {}
    members = []
    for p, (text, top, _) in files.items():
        lines = [0] + [k + 1 for k, c in enumerate(text) if c == "\n"]
        for m in walk(top):
            if m is top:
                continue
            m.line = bisect.bisect_right(lines, m.start)
            members.append(m)
            by_name.setdefault(m.name, []).append(m)

    def reach(extra):
        live, work = set(), []

        def mark(m):
            while m is not None and m.kind != "file" and id(m) not in live:
                live.add(id(m))
                work.append(m)
                for c in m.children:
                    if c.name in IMPLICIT or c.name is None:
                        mark(c)
                m = m.parent

        for p, (text, top, is_root) in files.items():
            for m in walk(top):
                if m is top:
                    continue
                in_root_object = any(a.name in ROOT_OBJECTS and a.parent is top
                                     for a in _ancestors(m))
                if (is_root or m.override or in_root_object or m.name in ROOT_MAPS
                        or (m.name == "main" and m.kind == "def")
                        or m.qualified() in extra):
                    mark(m)
        while work:
            m = work.pop()
            text = files[m.path][0]
            for a, b in own_text(m):
                for w in IDENT.finditer(text, a, b):
                    for n in by_name.get(w.group(0), ()):
                        if id(n) not in live and not (
                                n.path == m.path and n.start <= w.start() < n.end):
                            mark(n)
        return live

    # An allow-listed member is a root, so what only it uses is not listed
    # again; an entry is stale when, without it, its member is reached.
    unreached = {m.qualified() for m in members
                 if id(m) not in reach(set()) and m.name is not None}
    stale = sorted(k for k in allow if k not in unreached)
    live = reach(set(allow))
    shown = [m for m in members
             if id(m) not in live and m.name not in IMPLICIT and m.name is not None
             and (m.parent.kind == "file" or id(m.parent) in live)]
    shown.sort(key=lambda m: (m.path, m.line))
    return shown, stale


def _ancestors(m):
    while m is not None and m.kind != "file":
        yield m
        m = m.parent


def main(argv):
    here = os.path.dirname(os.path.abspath(__file__))
    root = argv[1] if len(argv) > 1 else os.path.dirname(here)
    shown, stale = audit(root, ALLOW)
    for m in shown:
        print(f"{os.path.relpath(m.path, root)}:{m.line} {m.kind} {m.qualified()}")
    for k in stale:
        print(f"stale allow-list entry: {k} ({ALLOW[k]})")
    print(f"[def_audit] {len(shown)} unreached outside the allow-list, "
          f"{len(stale)} stale allow-list entries", file=sys.stderr)
    return 1 if shown or stale else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
