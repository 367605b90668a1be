#!/usr/bin/env python3
"""List src/main declarations that nothing outside their own declaration uses.

For every `def`, `val`, `var`, `object`, `class`, `trait` and `type` declared
in src/main, count the whole-word occurrences of its name in src/main,
src/test and perfbench/src (code, comments and strings alike), minus one
for each line that declares that name. Prints one line per hit, as file:line:

  UNREF     the name appears nowhere else
  TESTONLY  the name appears elsewhere only under src/test
  OPTION    a defaulted parameter or case-class field that no call in
            src/main or perfbench/src sets (README lists each one that
            stays, with the reason)

The scan matches names, not symbols: two declarations that share a name
count as using each other, so a miss means "maybe used", a hit means "no
text refers to it". `override` and `implicit` declarations are skipped
(they are reached through a supertype or an implicit search, never by
name), and so are `main` methods and the objects that hold them (they are
entry points, reached by class name from the command line).

The OPTION report parses parameter lists and call sites with comments and
strings blanked. A call sets a parameter by name (`f(x = 1)`, also through
a case class `copy`) or by position; a bare identifier passed on from a
parameter of the enclosing def sets it only if that parameter is set. Calls
are matched by name: `Obj.f(` reaches only a def of object `Obj`,
`x.f(` only a class member, and a bare `f(` any `f`; an overload or a call
through a function value is not told apart. So an OPTION line is a lead,
and README's list of the options that stay was checked by hand.

Usage: python3 scripts/dead_decls.py [repo_root]
"""
import os
import re
import sys
from collections import defaultdict

TREES = ("src/main", "src/test", "perfbench/src")
DECL = re.compile(
    r"^\s*((?:(?:private|protected)(?:\[[\w.]*\])?\s+|final\s+|sealed\s+|"
    r"abstract\s+|lazy\s+|case\s+|override\s+|implicit\s+)*)"
    r"(def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)(.?)")
TOP_OBJECT = re.compile(r"^(?:\w+\s+)*object\s+([A-Za-z_]\w*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def source_files(root, tree):
    base = os.path.join(root, tree)
    for d, _, files in os.walk(base):
        for f in sorted(files):
            if f.endswith((".scala", ".java", ".py")):
                yield os.path.join(d, f)



# ---- OPTION report: parameter lists and call sites, comments and strings
# blanked

PARAM = re.compile(r"^\s*(?:implicit\s+)?(?:(?:private|protected)(?:\[\w+\])?\s+)?"
                   r"(?:val\s+|var\s+)?([A-Za-z_]\w*)\s*:")
NAMED = re.compile(r"^\s*([A-Za-z_]\w*)\s*=(?![=>])")
IDENT = re.compile(r"^\s*([A-Za-z_]\w*)\s*$")
OWNER = re.compile(r"\b(def|class)\s+([A-Za-z_]\w*)")
SCOPE = re.compile(r"[{}]|\b(object|class|trait)\s+([A-Za-z_]\w*)")
CALL = re.compile(r"(?:\b([A-Za-z_]\w*)\s*\.\s*)?\b([A-Za-z_]\w*)\s*(?=[\[(])")


def blank(text):
    """`text` with comments and string literals blanked to spaces; newlines
    and offsets are kept, so positions still map to lines."""
    out = list(text)
    i, n = 0, len(text)

    def wipe(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            wipe(i, j)
            i = j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            wipe(i, j)
            i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            wipe(i + 3, j - 3)
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            wipe(i + 1, min(j, n))
            i = j + 1
        elif text[i] == "'" and re.match(r"'(\\.|[^\\'])'", text[i:i + 4]):
            j = text.find("'", i + 2)
            wipe(i + 1, j)
            i = j + 1
        else:
            i += 1
    return "".join(out)


def skip_ws(t, i):
    while i < len(t) and t[i] in " \t\n":
        i += 1
    return i


def close_of(t, i):
    """Index of the bracket closing the one at t[i]."""
    o, c, d = t[i], {"(": ")", "[": "]"}[t[i]], 0
    for j in range(i, len(t)):
        if t[j] == o:
            d += 1
        elif t[j] == c:
            d -= 1
            if d == 0:
                return j
    return len(t)


def split_top(s):
    """(offset, text) of each top-level comma-separated item of `s`."""
    parts, d, start = [], 0, 0
    for j, ch in enumerate(s):
        if ch in "([{":
            d += 1
        elif ch in ")]}":
            d -= 1
        elif ch == "," and d == 0:
            parts.append((start, s[start:j]))
            start = j + 1
    parts.append((start, s[start:]))
    return parts


def arg_lists(t, i):
    """(offset, text) of each parenthesized list from t[i] on, after an
    optional type-argument list."""
    out = []
    i = skip_ws(t, i)
    if i < len(t) and t[i] == "[":
        i = skip_ws(t, close_of(t, i) + 1)
    while i < len(t) and t[i] == "(":
        j = close_of(t, i)
        out.append((i + 1, t[i + 1:j]))
        i = skip_ws(t, j + 1)
    return out


def has_default(param):
    """True iff `param` holds a top-level `=` (not `==`, `=>`, `<=`...)."""
    d = 0
    for j, ch in enumerate(param):
        if ch in "([{":
            d += 1
        elif ch in ")]}":
            d -= 1
        elif ch == "=" and d == 0 and param[j + 1:j + 2] not in ("=", ">") \
                and param[j - 1:j] not in ("=", "<", ">", "!"):
            return True
    return False


class Decl:
    """A def or class of src/main with its parameter lists, each a list of
    (name, defaulted, line)."""

    def __init__(self, rel, pos, kind, owner, scope, lists):
        self.rel, self.pos, self.kind, self.owner = rel, pos, kind, owner
        self.scope = scope    # (kind, name) of the enclosing object/class
        self.lists = lists

    def find(self, name):
        """(list index, defaulted) of parameter `name`, or None."""
        for k, ps in enumerate(self.lists):
            for p, dflt, _ in ps:
                if p == name:
                    return k, dflt
        return None


def declarations(rel, t):
    stack, depth, pending, marks = [], 0, None, []
    for m in SCOPE.finditer(t):
        if m.group(0) == "{":
            depth += 1
            if pending:
                stack.append((pending, depth))
                pending = None
        elif m.group(0) == "}":
            if stack and stack[-1][1] == depth:
                stack.pop()
            depth -= 1
        else:
            pending = (m.group(1), m.group(2))
        marks.append((m.start(), stack[-1][0] if stack else (None, None)))
    for m in OWNER.finditer(t):
        scope = next((sc for off, sc in reversed(marks) if off < m.start()),
                     (None, None))
        lists = []
        for off, inner in arg_lists(t, m.end()):
            ps = []
            for poff, p in split_top(inner):
                pm = PARAM.match(p)
                if pm:
                    line = t.count("\n", 0, off + poff + pm.start(1)) + 1
                    ps.append((pm.group(1), has_default(p), line))
            lists.append(ps)
        yield Decl(rel, m.start(), m.group(1), m.group(2), scope, lists)


def reaches(qual, d):
    """`Obj.f(` reaches only a def of object Obj, `x.f(` only a class
    member, a bare `f(` any `f`."""
    if not qual:
        return True
    if qual[0].isupper():
        return qual == d.scope[1]
    return d.scope[0] != "object"


def bound_args(d, lists):
    """(list index, parameter name, argument text) of each argument a call
    with arguments `lists` passes to `d`, by name or by position."""
    for k, (_, inner) in enumerate(lists[:len(d.lists)]):
        pos = 0
        for _, a in split_top(inner):
            am = NAMED.match(a)
            if am:
                yield k, am.group(1), a[am.end():]
            elif a.strip() and pos < len(d.lists[k]):
                yield k, d.lists[k][pos][0], a
                pos += 1


def option_report(root):
    """(file, line, owner.param) of each defaulted parameter or case-class
    field of a src/main declaration that src/main or perfbench/src calls,
    where no such call sets it."""
    texts = {}
    for tree in ("src/main", "perfbench/src"):
        for path in source_files(root, tree):
            if path.endswith(".scala"):
                with open(path, encoding="utf-8") as fh:
                    texts[os.path.relpath(path, root)] = blank(fh.read())
    by_file, by_owner = defaultdict(list), defaultdict(list)
    for rel, t in texts.items():
        if rel.startswith("src/main"):
            for d in declarations(rel, t):
                by_file[rel].append(d)
                if any(dflt for ps in d.lists for _, dflt, _ in ps):
                    by_owner[d.owner].append(d)

    called, is_set, copied = set(), set(), set()
    forwards = []     # ((id(callee), k, name), (caller, caller k, caller name))
    for rel, t in texts.items():
        for m in CALL.finditer(t):
            qual, name = m.group(1), m.group(2)
            if re.search(r"\b(def|class|object|trait)\s*$", t[max(0, m.start() - 8):m.start()]):
                continue
            lists = arg_lists(t, m.end())
            if name == "copy":
                copied.update(NAMED.match(a).group(1) for _, inner in lists[:1]
                              for _, a in split_top(inner) if NAMED.match(a))
                continue
            for d in by_owner.get(name, ()):
                if not reaches(qual, d):
                    continue
                called.add(id(d))
                for k, pname, value in bound_args(d, lists):
                    im = IDENT.match(value)
                    # a value passed on from a parameter of the enclosing
                    # def (the nearest one above that has it) is set only
                    # where that parameter is
                    caller = im and next(
                        (c for c in reversed(by_file.get(rel, []))
                         if c.pos < m.start() and c.kind == "def" and c.find(im.group(1))),
                        None)
                    if caller:
                        forwards.append(((id(d), k, pname),
                                         (caller, im.group(1))))
                    else:
                        is_set.add((id(d), k, pname))
    changed = True
    while changed:
        changed = False
        for key, (caller, cname) in forwards:
            ck, dflt = caller.find(cname)
            if key not in is_set and (not dflt or (id(caller), ck, cname) in is_set):
                is_set.add(key)
                changed = True
    for ds in by_owner.values():
        for d in ds:
            if id(d) not in called:
                continue
            for k, ps in enumerate(d.lists):
                for name, dflt, line in ps:
                    if dflt and (id(d), k, name) not in is_set and \
                            not (d.kind == "class" and name in copied):
                        yield d.rel, line, f"{d.owner}.{name}"


def main(root):
    decls = []                       # (path, lineno, name)
    decl_lines = defaultdict(set)    # name -> {(path, lineno)}
    entry_objects = set()            # (path, object name) holding a main
    counts = defaultdict(lambda: defaultdict(int))  # name -> tree -> n

    for tree in TREES:
        for path in source_files(root, tree):
            rel = os.path.relpath(path, root)
            top = None
            with open(path, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, 1):
                    for w in WORD.findall(line):
                        counts[w][tree] += 1
                    if tree != "src/main" or not rel.endswith(".scala"):
                        continue
                    m = TOP_OBJECT.match(line)
                    if m:
                        top = m.group(1)
                    d = DECL.match(line)
                    if not d:
                        continue
                    mods, kind, name, after = d.groups()
                    if name == "main" and kind == "def":
                        if top:
                            entry_objects.add((rel, top))
                        continue
                    if "override" in mods or "implicit" in mods:
                        continue
                    if kind in ("val", "var") and after == "(":
                        continue     # a pattern such as `val Array(a, b) = ...`
                    decls.append((rel, lineno, name))
                    decl_lines[name].add((rel, lineno))

    for rel, lineno, name in decls:
        if (rel, name) in entry_objects:
            continue
        # each declaring line holds one occurrence that is not a use
        main_n = counts[name]["src/main"] - len(decl_lines[name])
        test_n = counts[name]["src/test"]
        bench_n = counts[name]["perfbench/src"]
        if main_n + test_n + bench_n == 0:
            print(f"UNREF     {rel}:{lineno} {name}")
        elif main_n + bench_n == 0:
            print(f"TESTONLY  {rel}:{lineno} {name}")
    for rel, lineno, what in sorted(option_report(root)):
        print(f"OPTION    {rel}:{lineno} {what}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else
         os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
